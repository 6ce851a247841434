#!/usr/bin/env python3
"""Benchmark of the spatial-surrogate engine. Run from the checkout's root:

  python3 perfbench/run.py --workload pages_srg --seed 1 --seconds 10 --trace 0
  python3 perfbench/run.py --selfcheck

It builds the harness together with the program's sources (sbt, offline)
when they changed, runs one workload in one JVM at local[4], checks every
measured operation's output against values computed outside the program,
and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
CLASSPATH = os.path.join(BENCH, "target", "perfbench.classpath")
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
DEFAULT_DATA = os.path.join(BENCH, "data", "sf0.1")
WORKLOADS = ("pages_srg", "srg_catalog", "query_leaves")

# JVM flags of the program's own build.sbt (Spark on JDK 17 outside
# spark-submit), plus a heap that leaves room for other processes.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
JVM_FLAGS = ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

UNITS = {"setup_s": "s", "round_s": "s"}


def layer_unit(name):
    if name.endswith("_ns"):
        return "ns"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name == "spatial_join.s":
        return "s"
    if name == "smoke.bytes":
        return "bytes"
    return "count"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness and the program's main sources; skipped when the
    sources are unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if CLASSES in l and not l.startswith("[")]
    if not cp:
        fail("build did not report a classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


# -------------------------------------------------------------------- run

def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return "n/a"


def run_jvm(workload, seed, seconds, trace, data, tiny, timeout, pages=None):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read()
    cmd = (["java", "-cp", cp, f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
           + ADD_OPENS + JVM_FLAGS + [
               "perfbench.Main", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "1" if trace else "0",
               "--data", data, "--work", WORK, "--cache", CACHE]
           + (["--tiny", "1"] if tiny else [])
           + (["--pages", str(pages)] if pages else []))
    log_path = os.path.join(BENCH, ".work.log")
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the JVM did not finish within {timeout} s (log: {log_path})")
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if rc != 0:
        fail(f"the JVM exited with {rc} (log: {log_path})")
    with open(os.path.join(WORK, "result.json")) as f:
        return json.load(f)


def check_run(run):
    """Checks every measured operation's output. Returns {op index: reason}
    for the outputs that are wrong."""
    info, ops, wrong = run["check"], run["ops"], {}
    w = run["workload"]
    if w == "pages_srg":
        ref = checks.pages_reference(info["pages_files"])
        for i, op in enumerate(ops):
            if op["error"] is None:
                header, rows, _ = checks.read_smoke_parts(op["output"])
                wrong[i] = (checks.check_pages(rows, ref) if header and header[1] == "BENCH64"
                            else "missing or wrong #GRID header")
    elif w == "srg_catalog":
        codes = checks.catalog_codes(info)
        for i, op in enumerate(ops):
            if op["error"] is None:
                # each operation has its own layers, so its own JTS reference
                op_info = dict(info, reference=info["reference"][op["name"]])
                tables, skipped = checks.read_catalog(op["output"], codes)
                returned = None
                rpath = os.path.join(op["output"], "returned.csv")
                if os.path.exists(rpath):
                    returned = checks.read_returned(rpath)
                wrong[i] = checks.check_catalog(tables, op_info, returned, skipped)
                with open(os.path.join(op["output"], "qa.json")) as f:
                    qa = json.load(f)
                if wrong[i] is None and (qa["qa_not1_rows"] != 0 or
                                         qa["qa_summary_rows"] != len(info["counties"])):
                    wrong[i] = f"QA reports: {qa}"
    else:
        exp = checks.oracle_frames(info["data_dir"], info["oracle"], os.path.join(CACHE, "oracle"))
        for i, op in enumerate(ops):
            if op["error"] is None:
                wrong[i] = checks.check_leaf(exp[op["name"]], checks.read_leaf(op["output"]))
    return {i: r for i, r in wrong.items() if r is not None}


def end_to_end(run, failed):
    """setup_s, and round_s: each operation's median over the rounds in
    which every operation succeeded, summed over the round. Without such a
    round, the medians are over the operations that succeeded; without any,
    round_s is left out (the run has failed operations to report)."""
    ok = [o for i, o in enumerate(run["ops"]) if o["error"] is None and i not in failed]
    rounds = {}
    for i, o in enumerate(run["ops"]):
        rounds.setdefault(o["round"], []).append(o["error"] is None and i not in failed)
    whole = {r for r, oks in rounds.items() if all(oks)}
    per_op = {}
    for o in (o for o in run["ops"] if o["round"] in whole) if whole else ok:
        per_op.setdefault(o["name"], []).append(o["secs"])
    medians = {k: statistics.median(v) for k, v in per_op.items()}
    e2e = {"setup_s": run["setup_s"]}
    if medians:
        e2e["round_s"] = sum(medians.values())
    return e2e, statistics.median(o["secs"] for o in ok) if ok else None, medians


def summarize(run, wrong):
    ops = run["ops"]
    for i, o in enumerate(ops):
        status = ("FAIL: " + o["error"]) if o["error"] else (
            ("FAIL: wrong output: " + wrong[i]) if i in wrong else "ok")
        log(f"{run['workload']} round {o['round']} {o['name']} {o['secs']:.3f} s {status}")
    failed = {i for i, o in enumerate(ops) if o["error"] is not None} | set(wrong)
    return len(ops), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA,
                    help="directory of the sf0.1 parquet tables (default: %(default)s)")
    ap.add_argument("--pages", type=int,
                    help="pages_srg page count (default 500000; the declared runs use the default)")
    ap.add_argument("--selfcheck", action="store_true",
                    help="run all workloads at tiny size and the checkers' negative cases")
    a = ap.parse_args()
    if not a.selfcheck and a.workload is None:
        ap.error("--workload is required")
    data = os.path.abspath(a.data)
    if not os.path.exists(os.path.join(data, "documents.parquet")):
        fail(f"no sf0.1 tables in {data}")
    build()
    if a.selfcheck:
        import selfcheck
        sys.exit(selfcheck.run(lambda seconds: run_jvm("all", a.seed, seconds, False, data,
                                                       True, 170)))

    load0 = loadavg()
    t0 = time.time()
    result = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1, data, False, 170, a.pages)
    run = result["runs"][0]
    wrong = check_run(run)
    attempted, failed = summarize(run, wrong)
    e2e, op_p50, op_medians = end_to_end(run, failed)
    load1 = loadavg()
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "loadavg_start": load0, "loadavg_end": load1,
                      "wall_s": round(time.time() - t0, 3), "gen_s": run["gen_s"],
                      "storage_peak_mb": run["storage_peak_mb"],
                      "old_gen_peak_mb": run["old_gen_peak_mb"], "op_p50_s": op_p50,
                      "op_medians_s": op_medians,
                      "end_to_end": e2e}))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": not wrong, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
