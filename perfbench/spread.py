#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, from the checkout's root:

  python3 perfbench/spread.py --workload pages_srg --seeds 1-10 --seconds 10

Runs run.py once per seed and prints, per metric, the median, the quartile
distance as a share of the median (statistics.quantiles, n=4), and the share
of failed operations. Each run's last line is appended to --out.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out", default=os.path.join(HERE, ".work.spread.jsonl"))
    a = ap.parse_args()
    results = []
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", a.seconds,
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: run.py exited with {p.returncode}")
        line = p.stdout.strip().splitlines()[-1]
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": s, "result": json.loads(line)}) + "\n")
        r = json.loads(line)
        results.append(r)
        print(f"seed {s}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
              + f" failed={r['failed']}/{r['attempted']}", flush=True)
    for k in results[0]["metrics"]:
        vals = [r["metrics"][k]["value"] for r in results]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
        print(f"{k}: median {med:.4g}, spread {(q[2] - q[0]) / med:.3%}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share: {sorted(shares)}")


if __name__ == "__main__":
    main()
