#!/usr/bin/env python3
"""Mechanical round-close (VERDICT r12 next #1) — stops the recurring
end-of-round hygiene failure: for three rounds running the driver's
post-snapshot bench overwrote the committed floor reference and the
round artifacts sat untracked.

Usage:  python3 scripts/round_close.py <round-number> [--dry-run]

Does two things, in order:

1. COMMIT the round artifacts.  Any dirty/untracked file matching the
   round-artifact set (BENCH_r*.json, CORRECTNESS_r*.json, LEAKCHECK
   .json, VERDICT.md, ADVICE.md, PROGRESS.jsonl, BASELINE.md, probes/)
   is staged and committed, EXCEPT bench_results.json which step 2
   adjudicates first.

2. ADJUDICATE bench_results.json against the committed floor
   reference via the amended r12 adoption rule: a working-tree series
   replaces the committed reference iff
       repeats_done >= reference's
       AND ( median(shared wall-floor ratio)  <= WALL_TOL (1.005)
             OR ( median(shared CPU-floor ratio) <= CPU_TOL (1.05)
                  AND the series' own band_or_regression == "band" ) )
   — the CPU arm: process-CPU is insensitive to ambient host
   contention, so a wall shift with flat CPU is the host-day band,
   not a regression (VERDICT r11 next #7 / r12 #6).  Floors are only
   ratio-compared at equal core counts (the artifacts' `cpus`): when
   the counts differ, or either artifact does not record one, the
   comparison is `incomparable` and the new series is adopted iff it
   finished every repeat with no query errors.  Adopt -> commit the
   new series with the arithmetic in the message; reject -> `git
   checkout` the committed reference back.  Either way the decision
   line is printed for BASELINE.md.
"""
import json
import statistics
import subprocess
import sys

WALL_TOL = 1.005
CPU_TOL = 1.05

ARTIFACTS = ("BENCH_r", "CORRECTNESS_r", "LEAKCHECK.json", "VERDICT.md",
             "ADVICE.md", "PROGRESS.jsonl", "BASELINE.md", "probes/",
             "SCALE.md", "README.md", "SURVEY.md")


def run(*cmd, check=True):
    r = subprocess.run(cmd, capture_output=True, text=True)
    if check and r.returncode != 0:
        sys.exit(f"FATAL: {' '.join(cmd)}: {r.stderr.strip()}")
    return r.stdout


def dirty_artifacts():
    out = []
    for line in run("git", "status", "--porcelain").splitlines():
        path = line[3:].strip()
        # rename entries read 'old -> new'; stage the new path
        if " -> " in path:
            path = path.split(" -> ", 1)[1]
        # git quotes paths with special chars; un-quote the plain case
        if path.startswith('"') and path.endswith('"'):
            path = path[1:-1]
        # startswith-only against the repo-root artifact names: a
        # substring test would sweep scratch files like
        # notes/ADVICE.md.bak into the close-out commit
        if path != "bench_results.json" and any(
                path.startswith(p) for p in ARTIFACTS):
            out.append(path)
    return out


def floors_of(blob, key):
    f = blob.get(key) or {}
    return {q: v for q, v in f.items() if isinstance(v, (int, float)) and v > 0}


def decide(round_no, ref, new):
    """(adopt, decision line) for the series `new` against the reference
    `ref`, both parsed bench_results.json objects."""
    if ref.get("cpus") is None or ref.get("cpus") != new.get("cpus"):
        finished = (new.get("repeats_done", 0) >= new.get("repeats_target", float("inf"))
                    and not new.get("errors"))
        return finished, (
            f"r{round_no} bench adjudication: incomparable — series at "
            f"{new.get('cpus', '?')} cpus vs reference at {ref.get('cpus', '?')} cpus, "
            f"floors not compared; {new.get('repeats_done', 0)}/"
            f"{new.get('repeats_target', '?')} repeats, {len(new.get('errors') or {})} "
            f"query errors -> " + ("ADOPTED (complete series)" if finished
                                   else "REJECTED (restored)"))
    wr, wn = floors_of(ref, "floors"), floors_of(new, "floors")
    cr, cn = floors_of(ref, "floors_cpu"), floors_of(new, "floors_cpu")
    shared_w = sorted(q for q in wr if q in wn)
    shared_c = sorted(q for q in cr if q in cn)
    if not shared_w:
        sys.exit("FATAL: no shared wall floors — adjudicate by hand")
    wall_med = statistics.median(wn[q] / wr[q] for q in shared_w)
    cpu_med = (statistics.median(cn[q] / cr[q] for q in shared_c)
               if shared_c else float("inf"))
    verdict = new.get("band_or_regression", "?")
    rep_new = new.get("repeats_done", 0)
    rep_ref = ref.get("repeats_done", 0)
    wall_arm = wall_med <= WALL_TOL
    cpu_arm = cpu_med <= CPU_TOL and verdict == "band"
    adopt = rep_new >= rep_ref and (wall_arm or cpu_arm)
    arm = ("wall" if wall_arm else "cpu" if cpu_arm else "none")
    return adopt, (f"r{round_no} bench adjudication: {len(wn)}q/{rep_new}rep series vs "
                   f"{len(wr)}q/{rep_ref}rep reference — shared wall-floor median "
                   f"{wall_med:.3f}, CPU median {cpu_med:.3f} (n={len(shared_c)}), "
                   f"verdict '{verdict}' -> "
                   + (f"ADOPTED via the {arm} arm" if adopt else "REJECTED (restored)"))


def adjudicate(round_no, dry):
    tree_differs = subprocess.run(
        ["git", "diff", "--quiet", "HEAD", "--", "bench_results.json"]
    ).returncode != 0
    if not tree_differs:
        print("[bench] bench_results.json matches HEAD — nothing to adjudicate")
        return
    ref = json.loads(run("git", "show", "HEAD:bench_results.json"))
    new = json.load(open("bench_results.json"))
    adopt, line = decide(round_no, ref, new)
    print("[bench] " + line)
    print("[bench] record this line in BASELINE.md")
    if dry:
        return
    if adopt:
        run("git", "add", "bench_results.json")
        run("git", "commit", "-m",
            f"Adopt the round-{round_no} bench series as the floor reference\n\n{line}")
    else:
        run("git", "checkout", "--", "bench_results.json")


def main():
    args = [a for a in sys.argv[1:] if a != "--dry-run"]
    dry = "--dry-run" in sys.argv
    if not args:
        sys.exit(__doc__)
    round_no = int(args[0])
    files = dirty_artifacts()
    if files:
        print(f"[artifacts] committing {len(files)}: {' '.join(files)}")
        if not dry:
            run("git", "add", "--", *files)
            run("git", "commit", "-m", f"round {round_no}: close-out artifacts")
    else:
        print("[artifacts] clean")
    adjudicate(round_no, dry)
    left = run("git", "status", "--porcelain").strip()
    print("[close] git status clean" if not left
          else f"[close] STILL DIRTY (non-artifact files, decide by hand):\n{left}")


if __name__ == "__main__":
    main()
