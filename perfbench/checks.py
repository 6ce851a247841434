"""Output checks for the benchmark's workloads.

Every expected value is recomputed outside the program: page counts by
DuckDB over the committed page files, catalog surrogates from the JTS
reference the harness writes (see Reference.scala), and query leaves by
their DuckDB oracle, compared the way tools/check_oracle.py compares them.
Each check returns None when the output is right and a one-line reason
when it is not.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

# A SMOKE frac is printed with 8 decimals, numer/denom/qasum with 6.
FRAC_TOL = 5e-9 * (1 + 1e-6)
QA_TOL = 5e-7 * (1 + 1e-6)


# ------------------------------------------------------------ SMOKE reader

def read_smoke(lines):
    """SMOKE text lines -> (header, data rows, #SKIPPED rows). A data row is
    (code, fips, col, row, frac, numer, denom, qasum); the QA fields are None
    when the line has no `!` part. #REMAINDER lines are not data rows."""
    header, rows, skipped = None, [], []
    for line in lines:
        if not line.strip():
            continue
        if line.startswith("#GRID"):
            header = line.split("\t")
            continue
        target = rows
        if line.startswith("#SKIPPED "):
            target, line = skipped, line[len("#SKIPPED "):]
        elif line.startswith("#"):
            continue
        p = [t.strip() for t in line.split("\t")]
        qa = [float(v) for v in p[6:9]] if len(p) >= 9 and p[5] == "!" else [None] * 3
        target.append((int(p[0]), p[1], int(p[2]), int(p[3]), float(p[4]), *qa))
    return header, rows, skipped


def read_smoke_parts(out_dir):
    """A `Smoke.writeParts` directory: HEADER plus body/part-* text files."""
    lines = []
    with open(os.path.join(out_dir, "HEADER")) as f:
        lines += f.read().splitlines()
    for p in sorted(glob.glob(os.path.join(out_dir, "body", "part-*"))):
        with open(p) as f:
            lines += f.read().splitlines()
    return read_smoke(lines)


def read_smoke_file(path):
    with open(path) as f:
        return read_smoke(f.read().splitlines())


# ------------------------------------------------------------------ pages

def pages_reference(files):
    """Per (fips, col, row) page counts and per-county totals, from the
    committed page files with the closed-form geotag, county and cell."""
    q = f"""
      WITH p AS (SELECT CAST(regexp_extract(url, '(\\d+)$', 1) AS BIGINT) AS id
                 FROM read_parquet({list(files)!r})),
           g AS (SELECT (id * 48271) % 8000 AS xi, (id * 16807) % 8000 AS yi FROM p)
      SELECT '47' || lpad(CAST((yi // 2000) * 4 + xi // 2000 + 1 AS VARCHAR), 3, '0') AS fips,
             CAST(xi // 125 + 1 AS INTEGER) AS c, CAST(yi // 125 + 1 AS INTEGER) AS r,
             count(*) AS n
      FROM g WHERE xi % 500 <> 0 AND yi % 500 <> 0 GROUP BY ALL"""
    cells = {(f, int(c), int(r)): int(n) for f, c, r, n in duckdb.sql(q).fetchall()}
    denom = {}
    for (f, _, _), n in cells.items():
        denom[f] = denom.get(f, 0) + n
    return cells, denom


def check_pages(rows, ref):
    """rows: parsed SMOKE data rows of one page-surrogate output."""
    cells, denom = ref
    got = {}
    for code, fips, c, r, frac, num, den, _ in rows:
        if code != 300:
            return f"unexpected surrogate code {code}"
        if (fips, c, r) in got:
            return f"duplicate row {fips} {c} {r}"
        got[(fips, c, r)] = (frac, num, den)
    if got.keys() != cells.keys():
        return (f"cell set differs: {len(got.keys() - cells.keys())} extra, "
                f"{len(cells.keys() - got.keys())} missing")
    for k, n in cells.items():
        frac, num, den = got[k]
        d = denom[k[0]]
        if num != n or den != d:
            return f"{k}: numer/denom {num}/{den}, expected {n}/{d}"
        if abs(frac - n / d) > FRAC_TOL:
            return f"{k}: frac {frac!r}, expected {n / d!r}"
    for f, d in denom.items():
        if abs(sum(n / d for (ff, _, _), n in cells.items() if ff == f) - 1.0) > 1e-9:
            return f"county {f} does not sum to 1"
    return None


# ---------------------------------------------------------------- catalog

def _raw_fracs(rows):
    """Per county of one generated code's file: the fractions as the catalog
    computed them before normalizing, {fips: {(col, row): frac}}, with the
    error bound of each county's values. Where the county's Σ numer/denom is
    within 1e-6 of 1 normalizing left the fractions alone; elsewhere the file
    holds frac / S with S = Σ numer/denom."""
    out = {}
    for fips, rs in _by_county(rows).items():
        den = rs[0][6]
        s = sum(r[5] for r in rs) / den
        if abs(s - 1.0) <= 1e-6:
            out[fips] = ({(r[2], r[3]): r[4] for r in rs}, FRAC_TOL)
        else:
            err = FRAC_TOL * s + len(rs) * QA_TOL / den
            out[fips] = ({(r[2], r[3]): r[4] * s for r in rs}, err)
    return out


def _by_county(rows):
    out = {}
    for r in rows:
        out.setdefault(r[1], []).append(r)
    return out


def _normalized(exp):
    """PostOps.normalize with tol 1e-6 applied to one county's fractions."""
    s = sum(exp.values())
    return {k: v / s for k, v in exp.items()} if abs(s - 1.0) > 1e-6 else exp


def _derived(code, tables, info):
    """The merge or gapfill code recomputed from the generated codes' own
    files: {fips: ({(col, row): frac}, error bound)}."""
    merge, gap = info["merge"], info["gapfill"]
    if code == merge["code"]:
        a, b = _raw_fracs(tables[merge["a"]]), _raw_fracs(tables[merge["b"]])
        out = {}
        for fips in a.keys() & b.keys():
            (fa, ea), (fb, eb) = a[fips], b[fips]
            exp = {k: merge["fa"] * fa.get(k, 0.0) + merge["fb"] * fb.get(k, 0.0)
                   for k in fa.keys() | fb.keys()}
            out[fips] = (_normalized(exp), merge["fa"] * ea + merge["fb"] * eb)
        return out
    cascade = [_raw_fracs(tables[c]) for c in gap["cascade"]]
    out = {}
    for fips in set().union(*cascade):
        exp, err = next(c[fips] for c in cascade if fips in c)
        out[fips] = (_normalized(exp), err)
    return out


def check_catalog_code(code, tables, info):
    """One code's SMOKE rows against the JTS reference (sampled counties),
    the sums every county must meet, and, for the merge and gapfill codes,
    the same linear combination and fallback applied to the generated codes'
    files for every county. tables: {code: parsed SMOKE data rows}."""
    ref = {int(r["code"]): r for r in info["reference"]}
    generated = [int(c) for c in info["generated"]]
    merge, gap = info["merge"], info["gapfill"]

    def ref_frac(code, fips):
        r = ref[code]
        d = r["denom"].get(fips, 0.0)
        return {(c, rw): v / d for f, c, rw, v in r["cells"] if f == fips} if d > 0 else None

    rows = tables[code]
    keys = [(r[1], r[2], r[3]) for r in rows]
    if len(set(keys)) != len(keys):
        return "duplicate rows"
    per_county = _by_county(rows)
    for fips, rs in per_county.items():
        s = sum(r[4] for r in rs)
        if abs(s - 1.0) > 1e-6 + len(rs) * FRAC_TOL:
            return f"county {fips}: fracs sum to {s!r}"
    if code in generated:
        total = 0.0
        for fips, rs in per_county.items():
            den = rs[0][6]
            if any(abs(r[6] - den) > QA_TOL for r in rs):
                return f"county {fips}: denominators differ"
            num = sum(r[5] for r in rs)
            if abs(num - den) > len(rs) * QA_TOL + 1e-9 * den:
                return f"county {fips}: numerators sum to {num!r}, denom {den!r}"
            for r in rs:
                if abs(r[4] - r[5] / den) > FRAC_TOL + QA_TOL / den:
                    return f"{r[1:4]}: frac {r[4]!r} is not numer/denom"
            total += den
        inside = ref[code]["inside_total"]
        if abs(total - inside) > 1e-9 * inside + len(per_county) * QA_TOL:
            return f"denominators sum to {total!r}, weight inside counties {inside!r}"
    else:
        derived = _derived(code, tables, info)
        if per_county.keys() != derived.keys():
            return (f"counties {sorted(per_county)}, the inputs' files give "
                    f"{sorted(derived)}")
        for fips, (exp, err) in derived.items():
            got = {(r[2], r[3]): r[4] for r in per_county[fips]}
            if got.keys() != exp.keys():
                return (f"county {fips}: {len(got.keys() - exp.keys())} rows more and "
                        f"{len(exp.keys() - got.keys())} fewer than the inputs' files give")
            for k, v in exp.items():
                if abs(got[k] - v) > FRAC_TOL + err * (1 + 1e-6):
                    return f"{fips} {k}: frac {got[k]!r}, the inputs' files give {v!r}"
    # the sampled counties against the JTS reference
    for fips in info["sample"]:
        got = {(r[2], r[3]): r for r in per_county.get(fips, [])}
        if code in generated:
            exp = ref_frac(code, fips)
            d = ref[code]["denom"].get(fips, 0.0)
            if exp is None:
                if got:
                    return f"county {fips}: rows for a county without weight"
                continue
            cells = {(c, rw): v for f, c, rw, v in ref[code]["cells"] if f == fips}
            for k in exp.keys() | got.keys():
                num = got[k][5] if k in got else 0.0
                if abs(num - cells.get(k, 0.0)) > 1e-9 * d + QA_TOL:
                    return f"{fips} {k}: numer {num!r}, reference {cells.get(k, 0.0)!r}"
                frac = got[k][4] if k in got else 0.0
                if abs(frac - exp.get(k, 0.0)) > FRAC_TOL + 1e-9:
                    return f"{fips} {k}: frac {frac!r}, reference {exp.get(k, 0.0)!r}"
            if got and abs(got[next(iter(got))][6] - d) > 1e-9 * d + QA_TOL:
                return f"county {fips}: denom differs from reference {d!r}"
        else:
            if code == merge["code"]:
                a, b = ref_frac(merge["a"], fips), ref_frac(merge["b"], fips)
                exp = None if a is None or b is None else {
                    k: merge["fa"] * a.get(k, 0.0) + merge["fb"] * b.get(k, 0.0)
                    for k in a.keys() | b.keys()}
            else:
                exp = next((f for f in (ref_frac(c, fips) for c in gap["cascade"])
                            if f is not None), None)
            if exp is None:
                if got:
                    return f"county {fips}: rows where no input has the county"
                continue
            for k in exp.keys() | got.keys():
                frac = got[k][4] if k in got else 0.0
                if abs(frac - exp.get(k, 0.0)) > FRAC_TOL + 1e-9:
                    return f"{fips} {k}: frac {frac!r}, reference {exp.get(k, 0.0)!r}"
    return None


def check_returned_code(code, tables, returned, skipped):
    """One code's SMOKE rows against the table the catalog call returned;
    the file may add #SKIPPED rows (skipped: {code: rows})."""
    want = {(r[1], r[2], r[3]): r for r in returned.get(code, [])}
    have = {(r[1], r[2], r[3]): r for r in tables[code]}
    extra = {(r[1], r[2], r[3]) for r in skipped.get(code, [])}
    if have.keys() != want.keys():
        return "SMOKE rows differ from the returned table"
    if extra & want.keys():
        return "a #SKIPPED row is also a live row"
    for k, r in want.items():
        h = have[k]
        if abs(h[4] - r[4]) > FRAC_TOL:
            return f"{k}: SMOKE frac {h[4]!r}, returned {r[4]!r}"
        for i in (5, 6, 7):
            if r[i] is not None and h[i] is not None and abs(h[i] - r[i]) > QA_TOL:
                return f"{k}: SMOKE QA field differs from the returned table"
    return None


def catalog_codes(info):
    return ([int(c) for c in info["generated"]]
            + [info["merge"]["code"], info["gapfill"]["code"]])


def check_catalog(tables, info, returned=None, skipped=None):
    """Every code of one catalog output; the tables the call returned are
    compared with the files when given. None, or the reasons of every code
    that fails, joined."""
    codes = catalog_codes(info)
    if sorted(tables) != sorted(codes):
        return f"SMOKE files for codes {sorted(tables)}, expected {sorted(codes)}"
    reasons = []
    for code in codes:
        why = check_catalog_code(code, tables, info)
        if why is None and returned is not None:
            why = check_returned_code(code, tables, returned, skipped or {})
        if why is not None:
            reasons.append(f"code {code}: {why}")
    return "; ".join(reasons) or None


def read_returned(path):
    """returned.csv: code,fips,col,row,frac,numer,denom,qasum (empty = none)."""
    out = {}
    with open(path) as f:
        for line in f:
            p = line.rstrip("\n").split(",")
            if len(p) < 8:
                continue
            v = [float(x) if x else None for x in p[4:8]]
            out.setdefault(int(p[0]), []).append((int(p[0]), p[1], int(p[2]), int(p[3]), *v))
    return out


def read_catalog(out_dir, codes):
    tables, skipped = {}, {}
    for code in codes:
        path = os.path.join(out_dir, f"srg_{code}.txt")
        if not os.path.exists(path):
            continue
        header, rows, sk = read_smoke_file(path)
        if header is None or header[1] != "BENCH64":
            raise ValueError(f"{path}: missing or wrong #GRID header")
        tables[code], skipped[code] = rows, sk
    return tables, skipped


# ----------------------------------------------------------------- leaves

def oracle_frames(data_dir, oracle, cache_dir):
    """Run each leaf's oracle SQL in DuckDB over the data directory's tables.
    Results are cached by the hash of the SQL text and data directory."""
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    out = {}
    for name, sql in oracle.items():
        key = hashlib.sha256((data_dir + "\0" + sql).encode()).hexdigest()[:24]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            for p in glob.glob(os.path.join(data_dir, "*.parquet")):
                t = os.path.basename(p)[:-8]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        df = con.execute(sql).fetchdf()
        df.to_pickle(path)
        out[name] = df
    return out


def check_leaf(exp, got):
    """The comparison of tools/check_oracle.py: columns by name, rows sorted
    by all columns, exact values (floats bit-for-bit)."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"schema {list(got.columns)}, oracle {list(exp.columns)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    if len(exp) != len(got):
        return f"{len(got)} rows, oracle {len(exp)}"
    for c in exp.columns:
        e, g = exp[c], got[c]
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            neq = ~((e == g) | (e.isna() & g.isna()))
            if neq.any():
                return f"column {c}: {int(neq.sum())} values differ"
        elif not e.astype(str).equals(g.astype(str)):
            return f"column {c}: {int((e.astype(str) != g.astype(str)).sum())} values differ"
    return None


def read_leaf(out_dir):
    files = glob.glob(os.path.join(out_dir, "*.parquet"))
    if not files:
        raise ValueError(f"{out_dir}: no parquet output")
    return pd.concat([pd.read_parquet(f) for f in files])
