#!/usr/bin/env python3
"""Local dev mirror of the driver's correctness gate: run graft.Verify
(via sbt) output against the DuckDB oracle and diff values.

Usage: python3 scripts/check.py [sfdir] [outdir] [--no-run] [names...]
       python3 scripts/check.py --smoke [sfdir]

--smoke: the ~30-second round-start tripwire — runs graft.tools.Smoke
(one representative query per source family at sf0.001) and exits with
its status. Run it FIRST each round: it catches driver testdata
regenerations that changed a physical parquet schema (the round-6
events.ts incident) before any longer gate burns time.
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


if __name__ == "__main__":
    main()
