#!/usr/bin/env python3
"""Compare graft.Bench series of two trees, query by query.

    python3 scripts/bench_ab.py --base B1.json B2.json --change C1.json C2.json [names...]

Each .json file is one `graft.Bench` series (`bench_results*.json`, for example
written under SPARK_GRAFT_BENCH_ONLY with SPARK_GRAFT_BENCH_OUT). For every
query present in all the given series, or only those named (a name matches
a query equal to it or starting with it plus `_`, so `q16` matches
`q16_user_knn`), it prints for each series Bench's lower median, its floor
and the first repeat's wall, then two verdicts: one over the medians and
one over the first-repeat walls (see `verdict`). A query that failed in
some series (Bench records -1) reads `failed`. Standard library only.
"""
import argparse
import json
import sys


def load(path):
    """Per query (median, floor, first-repeat wall) of one Bench series."""
    with open(path) as f:
        d = json.load(f)
    runs = d.get("runs") or [{}]
    return {q: (m, d.get("floors", {}).get(q, -1.0), runs[0].get(q, -1.0))
            for q, m in d["queries"].items()}


def verdict(base, change):
    """`slower` when every change value is above every base value,
    `faster` when every one is below, `overlap` otherwise."""
    if any(x < 0 for x in base + change):
        return "failed"
    if min(change) > max(base):
        return "slower"
    if max(change) < min(base):
        return "faster"
    return "overlap"


def selected(queries, names):
    return sorted(q for q in queries
                  if not names or any(q == n or q.startswith(n + "_") for n in names))


def report(base, change, names=()):
    """The comparison as lines of text; `base` and `change` are lists of
    `load` results."""
    common = set.intersection(*(set(s) for s in base + change))
    fmt = lambda xs: " ".join(f"{x:7.3f}" for x in xs)
    lines = []
    for q in selected(common, names):
        b = [s[q] for s in base]
        c = [s[q] for s in change]
        lines.append(q)
        for label, k in (("median", 0), ("floor", 1), ("first", 2)):
            lines.append(f"  {label:<7} base {fmt([x[k] for x in b])}   "
                         f"change {fmt([x[k] for x in c])}")
        lines.append(f"  verdict median {verdict([x[0] for x in b], [x[0] for x in c])}, "
                     f"first repeat {verdict([x[2] for x in b], [x[2] for x in c])}")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True, help="the base tree's series")
    ap.add_argument("--change", nargs="+", required=True, help="the changed tree's series")
    ap.add_argument("names", nargs="*", help="queries to compare (default: all common)")
    a = ap.parse_args(argv)
    # `--change C.json q16` puts the name into the list of series: every
    # argument that is not a .json file is a query name
    names = a.names + [x for x in a.base + a.change if not x.endswith(".json")]
    base, change = ([load(x) for x in xs if x.endswith(".json")] for xs in (a.base, a.change))
    if not base or not change:
        ap.error("give at least one .json series per side")
    lines = report(base, change, names)
    if not lines:
        sys.exit("bench_ab: no query is present in every series")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
