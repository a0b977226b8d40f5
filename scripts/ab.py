#!/usr/bin/env python3
"""A/B the benchmark between two checkouts, in alternating pairs.

    python3 scripts/ab.py BASE CHANGE --workload fold_eval --seeds 61-70
    python3 scripts/ab.py BASE CHANGE --workload corpus_dedup --seeds 61,63,65 --json ab.json
    python3 scripts/ab.py BASE CHANGE --workload fold_eval,corpus_dedup --seeds 61-66

BASE and CHANGE are two checkouts of the repository (for example a
`git clone` of the parent commit and the working tree). For each seed the
script runs `python3 perfbench/run.py --workload W --seed S --seconds N
--trace 0` once in each checkout, alternating which side goes first from
pair to pair, and reads the JSON object each run prints last. It then
prints, for every end-to-end metric of CHANGE's BENCHMARK.json, each
side's median and quartiles, the number of pairs each side won, whether
the gap between the medians exceeds BASE's interquartile range, and a
regression verdict against the metric's `bound` (see `verdict`); then
each side's failed and attempted operations and incorrect runs.

`--workload` takes a comma list: the pairs of each workload run in turn,
over the same seeds, and each workload gets its own table, printed as
soon as its pairs are done. With `--json`, a single workload writes its
list of pairs; a comma list writes an object of such lists keyed by
workload.

A run times as many passes as fit in its seconds, so a faster side may
fit one more pass, which moves metrics such as the peak heap. Each pair
line prints both sides' `attempted` passes, and each metric also gets
the medians over only the pairs whose sides ran equally many passes
(see `equal_pass_pairs`).

Each checkout builds and runs its own perfbench/ and keeps its build in
its own .bench_build/; this script only reads their output and never
writes under perfbench/. A run that exits non-zero is reported and
counted as a lost pair for that side. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run(checkout, workload, seed, seconds):
    """One untraced run; returns its result object, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(f"[ab] {checkout} seed {seed} exited {p.returncode}\n"
                         f"{p.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def equal_pass_pairs(pairs):
    """The pairs whose two runs both finished and timed equally many
    passes (`attempted`)."""
    return [p for p in pairs
            if p["base"] and p["change"] and p["base"]["attempted"] == p["change"]["attempted"]]


def verdict(base, change, bound, lower):
    """The regression verdict for one end-to-end metric, from each side's
    run values (None for a run that did not finish) and the metric's
    relative `bound`:

    worse       CHANGE's median is worse than BASE's by more than the bound
                (or no CHANGE run finished);
    unresolved  BASE's IQR/median exceeds the bound, and not every CHANGE
                run beats every BASE run, so the runs spread too widely
                to tell (or no BASE run finished);
    ok          otherwise.
    """
    base = [x for x in base if x is not None]
    change = [x for x in change if x is not None]
    if not change:
        return "worse" if base else "unresolved"
    if not base:
        return "unresolved"
    bm, cm = statistics.median(base), statistics.median(change)
    scale = abs(bm) or float("inf")
    if ((cm - bm) if lower else (bm - cm)) / scale > bound:
        return "worse"
    q1, q3 = quartiles(base)
    beats_all = max(change) < min(base) if lower else min(change) > max(base)
    if (q3 - q1) / scale > bound and not beats_all:
        return "unresolved"
    return "ok"


def run_pairs(sides, workload, seeds, seconds):
    """Runs one pair per seed, alternating which side goes first."""
    pairs = []
    for n, seed in enumerate(seeds):
        order = ["base", "change"] if n % 2 == 0 else ["change", "base"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(sides[side], workload, seed, seconds)
        pairs.append(pair)
        summary = "  ".join(
            f"{s} job_s={pair[s]['metrics']['job_s']['value']:.3f} "
            f"attempted={pair[s]['attempted']}" if pair[s] else f"{s} FAILED"
            for s in sides)
        print(f"[ab] {workload} pair {n + 1} seed {seed} ({order[0]} first): {summary}",
              flush=True)
    return pairs


def report(sides, workload, pairs, metrics):
    """Prints one workload's table of end-to-end metrics and its failures."""
    print(f"\n{workload}: {len(pairs)} pairs, base = {sides['base']}, "
          f"change = {sides['change']}")
    equal = equal_pass_pairs(pairs)
    print(f"{'metric':<20}{'base median [q1, q3]':>30}{'change median [q1, q3]':>30}"
          f"{'wins b/c':>10}  gap > base IQR  verdict (bound)"
          f"  medians b/c over the {len(equal)} equal-pass pairs")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name]["value"] if p[s] else None for p in pairs]
                for s in sides}
        wins = {"base": 0, "change": 0}
        for b, c in zip(vals["base"], vals["change"]):
            if b is None and c is None:
                continue
            if b is None or c is None:
                wins["change" if b is None else "base"] += 1
            elif b != c:
                wins["change" if (c < b) == lower else "base"] += 1
        stats = {}
        for s in sides:
            xs = [x for x in vals[s] if x is not None]
            stats[s] = (statistics.median(xs), *quartiles(xs)) if xs else None
        text = {s: "-" if stats[s] is None else "{:.4g} [{:.4g}, {:.4g}]".format(*stats[s])
                for s in sides}
        b, c = stats["base"], stats["change"]
        gap = "-" if b is None or c is None else "yes" if abs(c[0] - b[0]) > b[2] - b[1] else "no"
        v = verdict(vals["base"], vals["change"], m["bound"], lower)
        eq = "-" if not equal else "{:.4g} / {:.4g}".format(
            *(statistics.median(p[s]["metrics"][name]["value"] for p in equal) for s in sides))
        print(f"{name:<20}{text['base']:>30}{text['change']:>30}"
              f"{str(wins['base']) + '/' + str(wins['change']):>10}  {gap:<14}  "
              f"{v + ' (' + format(m['bound'], 'g') + ')':<16}  {eq}")
    for s in ("base", "change"):
        ok = [p[s] for p in pairs if p[s]]
        print(f"{s}: failed {sum(r['failed'] for r in ok)} of {sum(r['attempted'] for r in ok)}"
              f" operations, {sum(not r['correct'] for r in ok)} incorrect runs,"
              f" {len(pairs) - len(ok)} runs that did not finish", flush=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True,
                    help="e.g. corpus_dedup or fold_eval,corpus_dedup")
    ap.add_argument("--seeds", required=True, help="e.g. 61-70 or 61,63,65")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--json", help="also write every run's result here")
    a = ap.parse_args(argv)
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    workloads = [w for w in a.workload.split(",") if w]
    results = {}
    for w in workloads:
        results[w] = run_pairs(sides, w, parse_seeds(a.seeds), a.seconds)
        report(sides, w, results[w], metrics)
    if a.json:
        with open(a.json, "w") as f:
            json.dump(results if len(workloads) > 1 else results[workloads[0]], f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
