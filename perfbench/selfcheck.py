"""Self-check: all three workloads at tiny size in one JVM, their outputs
checked, then each checker shown to reject an output with one frac moved by
1e-6 and one with a row dropped."""
import checks
import run as bench


def _negatives(name, good, check):
    """good: a correct output; check(output) -> reason or None. Returns the
    list of failures of the self-check itself."""
    reason = check(good.original())
    if reason is not None:
        # nothing to show on an output that is already rejected
        return [f"{name}: the unmodified output is rejected: {reason}"]
    bad = []
    for label, mutated in (("frac + 1e-6", good.moved()), ("row dropped", good.dropped())):
        reason = check(mutated)
        if reason is None:
            bad.append(f"{name}: output with {label} is accepted")
        else:
            bench.log(f"selfcheck {name}: {label} rejected ({reason})")
    return bad


class Rows:
    """A list of SMOKE rows with the two mutations. The row moved and the row
    dropped is the one with the largest frac, so the change is not lost in a
    sliver."""
    def __init__(self, rows):
        self.rows = rows
        self.i = max(range(len(rows)), key=lambda i: rows[i][4])

    def original(self):
        return self.rows

    def moved(self):
        r = list(self.rows[self.i])
        r[4] += 1e-6
        return self.rows[:self.i] + [tuple(r)] + self.rows[self.i + 1:]

    def dropped(self):
        return self.rows[:self.i] + self.rows[self.i + 1:]


class Frame:
    def __init__(self, df):
        self.df = df.reset_index(drop=True)

    def original(self):
        return self.df

    def moved(self):
        df = self.df.copy()
        df.loc[0, "frac"] = df.loc[0, "frac"] + 1e-6
        return df

    def dropped(self):
        return self.df.iloc[1:]


def run(jvm):
    result = jvm(1)
    bad = []
    for r in result["runs"]:
        wrong = bench.check_run(r)
        _, failed = bench.summarize(r, wrong)
        if failed:
            bad.append(f"{r['workload']}: {len(failed)} of {len(r['ops'])} operations failed")
    runs = {r["workload"]: r for r in result["runs"]}

    pages = runs["pages_srg"]
    ref = checks.pages_reference(pages["check"]["pages_files"])
    _, rows, _ = checks.read_smoke_parts(pages["ops"][0]["output"])
    bad += _negatives("pages_srg", Rows(rows), lambda rs: checks.check_pages(rs, ref))

    cat = runs["srg_catalog"]
    for op in cat["ops"]:
        if op["error"] is not None:
            continue  # counted above
        info = dict(cat["check"], reference=cat["check"]["reference"][op["name"]])
        codes = checks.catalog_codes(info)
        tables, skipped = checks.read_catalog(op["output"], codes)
        returned = checks.read_returned(op["output"] + "/returned.csv")
        for code in codes:
            good = Rows(tables[code])
            bad += _negatives(f"{op['name']} code {code}", good, lambda rs, code=code:
                              checks.check_catalog_code(code, {**tables, code: rs}, info))
            bad += _negatives(f"{op['name']} returned table {code}", good,
                              lambda rs, code=code: checks.check_returned_code(
                                  code, tables, {**returned, code: rs}, skipped))

    leaves = runs["query_leaves"]
    exp = checks.oracle_frames(leaves["check"]["data_dir"], leaves["check"]["oracle"],
                               bench.CACHE + "/oracle")
    op = next(o for o in leaves["ops"] if o["name"] == "q03_srg_point")
    got = checks.read_leaf(op["output"])
    bad += _negatives("query_leaves q03_srg_point", Frame(got),
                      lambda df: checks.check_leaf(exp["q03_srg_point"], df))

    for b in bad:
        bench.log("selfcheck FAILED: " + b)
    bench.log("selfcheck " + ("passed" if not bad else f"failed ({len(bad)} problems)"))
    return 0 if not bad else 1
