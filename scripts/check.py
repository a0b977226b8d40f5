#!/usr/bin/env python3
"""Local dev mirror of the driver's correctness gate: run graft.Verify
(via sbt) output against the DuckDB oracle and diff values.

Usage: python3 scripts/check.py [sfdir] [outdir] [--no-run] [names...]
       python3 scripts/check.py --smoke [sfdir]
       python3 scripts/check.py --against <base_out> [outdir] [names...]

--smoke: the ~30-second round-start tripwire — runs graft.tools.Smoke
(one representative query per source family at sf0.001) and exits with
its status. Run it FIRST each round: it catches driver testdata
regenerations that changed a physical parquet schema (the round-6
events.ts incident) before any longer gate burns time.

--against: compare two Verify output directories query by query, with
no Spark run and no oracle — the "identical outputs" check for a
refactor. Run Verify on the base tree into <base_out> and on the
changed tree into <outdir> (default /tmp/verify_out), then compare:
the exact DuckDB column names, order and types first (an INTEGER that
turns into a BIGINT is a difference, unlike the family-level oracle
gate), then the rows sorted and compared exactly (floats bit for bit,
no rounding). Prints the first differing rows and exits non-zero on
any difference or any query present on one side only.
"""
import json, math, os, subprocess, sys

if "--smoke" in sys.argv:
    sf = next((a for a in sys.argv[1:] if not a.startswith("--")),
              "/root/testdata/sf0.001")
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.tools.Smoke {sf}"],
        cwd="/root/repo", capture_output=True, text=True)
    for line in (r.stdout + r.stderr).splitlines():
        if "[smoke]" in line:
            print(line)
    ok = r.returncode == 0 and "[smoke] all" in r.stdout
    sys.exit(0 if ok else 1)

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/tmp/verify_out"
NO_RUN = "--no-run" in sys.argv
ONLY = [a for a in sys.argv[3:] if not a.startswith("--")]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_verify():
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}']
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    tail = (r.stdout + r.stderr)[-3000:]
    if r.returncode != 0:
        print(tail)
        sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def main():
    import duckdb
    if not NO_RUN:
        run_verify()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.isdir(p):  # Spark-written dir (e.g. a ScaleProbe replica)
            p = f"{p}/*.parquet"
        if os.path.exists(p) or "*" in p:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            n_ok, n_bad = check_one(con, name, sql, n_ok, n_bad)
        except Exception as e:
            print(f"FAIL {name}: compare crashed: {e}")
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} bad ==")
    sys.exit(1 if n_bad else 0)


INTEGER_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}


def family(t):
    """Type family of a DuckDB column type. The driver compares values
    of different families unequal (a DECIMAL never equals a DOUBLE), so
    the families must match before any value is normalized."""
    t = str(t)
    if t.endswith("]"):
        return family(t[:t.rindex("[")]) + "[]"
    head = t.split("(")[0].strip()
    if head == "DECIMAL":
        return "decimal"
    if head in ("FLOAT", "DOUBLE"):
        return "float"
    if head in INTEGER_TYPES:
        return "integer"
    if head.startswith("TIMESTAMP"):
        return "timestamp"
    if head == "VARCHAR":
        return "string"
    return head.lower()


def check_one(con, name, sql, n_ok, n_bad):
    try:
        exp_rel = con.sql(sql)
        exp = exp_rel.fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}")
        return n_ok, n_bad + 1
    try:
        got_rel = con.sql(f"SELECT * FROM read_parquet('{OUT}/{name}/*.parquet')")
        got = got_rel.fetchdf()
    except Exception as e:
        print(f"FAIL {name}: spark output missing: {e}")
        return n_ok, n_bad + 1
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"FAIL {name}: columns spark={gcols} oracle={ecols}")
        return n_ok, n_bad + 1
    gtypes = dict(zip(got_rel.columns, map(family, got_rel.types)))
    etypes = dict(zip(exp_rel.columns, map(family, exp_rel.types)))
    mismatched = [f"{c} spark={gtypes[c]} oracle={etypes[c]}"
                  for c in gcols if gtypes[c] != etypes[c]]
    if mismatched:
        print(f"FAIL {name}: column types differ: {'; '.join(mismatched)}")
        return n_ok, n_bad + 1
    # sort on stringified keys: normed cells can mix str ("NaN") and
    # float, which plain sort_values can't compare
    g = got[gcols].apply(lambda c: c.map(norm)).sort_values(
        gcols, key=lambda c: c.astype(str)).reset_index(drop=True)
    e = exp[ecols].apply(lambda c: c.map(norm)).sort_values(
        ecols, key=lambda c: c.astype(str)).reset_index(drop=True)
    if len(g) != len(e):
        print(f"FAIL {name}: rows spark={len(g)} oracle={len(e)}")
        return n_ok, n_bad + 1
    if g.equals(e):
        print(f"OK   {name}: {len(g)} rows")
        return n_ok + 1, n_bad
    neq = (g != e).any(axis=1)
    print(f"FAIL {name}: {int(neq.sum())}/{len(g)} rows differ; first diffs:")
    print("  spark:", g[neq].head(3).to_dict("records"))
    print("  oracle:", e[neq].head(3).to_dict("records"))
    return n_ok, n_bad + 1


def exact(v):
    """Exact, hashable, orderable form of a DuckDB cell: floats by their
    bits (so -0.0 differs from 0.0 and NaN equals NaN), nested lists and
    structs recursively."""
    if isinstance(v, float):
        return ("f", v.hex())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(map(exact, v)))
    if isinstance(v, dict):
        return ("d", tuple((k, exact(x)) for k, x in v.items()))
    return (type(v).__name__, v)


def against(base, out, names):
    import duckdb
    from collections import Counter
    con = duckdb.connect()

    def queries(d):
        return {q for q in os.listdir(d)
                if os.path.isdir(f"{d}/{q}") and (not names or q in names)}

    qb, qo = queries(base), queries(out)
    n_same = n_diff = 0
    for q in sorted(qb ^ qo):
        print(f"DIFF {q}: only in {base if q in qb else out}")
        n_diff += 1
    for q in sorted(qb & qo):
        rels = [con.sql(f"SELECT * FROM read_parquet('{d}/{q}/*.parquet')")
                for d in (base, out)]
        schemas = [list(zip(r.columns, map(str, r.types))) for r in rels]
        if schemas[0] != schemas[1]:
            print(f"DIFF {q}: schema base={schemas[0]} out={schemas[1]}")
            n_diff += 1
            continue
        rows = [r.fetchall() for r in rels]
        keys = [sorted(tuple(map(exact, row)) for row in rs) for rs in rows]
        if keys[0] == keys[1]:
            print(f"SAME {q}: {len(rows[0])} rows")
            n_same += 1
            continue
        raw = {tuple(map(exact, row)): row for rs in rows for row in rs}
        cb, co = Counter(keys[0]), Counter(keys[1])
        print(f"DIFF {q}: rows base={len(rows[0])} out={len(rows[1])}; first diffs:")
        print("  base:", [raw[k] for k in sorted(cb - co)[:3]])
        print("  out: ", [raw[k] for k in sorted(co - cb)[:3]])
        n_diff += 1
    print(f"== {n_same} identical, {n_diff} differ ==")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if "--against" in sys.argv:
        i = sys.argv.index("--against")
        rest = [a for a in sys.argv[1:i] + sys.argv[i + 2:] if not a.startswith("--")]
        sys.exit(against(sys.argv[i + 1], rest[0] if rest else "/tmp/verify_out", rest[1:]))
    main()
