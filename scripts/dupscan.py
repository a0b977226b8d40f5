#!/usr/bin/env python3
"""List the code that is written more than once under src/main/scala.

    python3 scripts/dupscan.py

A window is 5 consecutive code lines of one file. Blank lines, comment
lines (`//`, and every line of a `/* ... */` block), `package` and `import`
lines are skipped, and runs of whitespace collapse to one space, so a copy
that was re-indented or re-commented still matches. The reference SQL
(`graft/oracle`) and the probes (`graft/tools`) are not scanned.

Every window that occurs at two or more places is reported. Overlapping
windows that repeat together are printed as one cluster: its length in code
lines, its first line, and each place as `file:first-last` (source line
numbers). Then, per file, the number of code lines that some repeated window
covers, and the total. It exits 1 when it finds any cluster and 0
otherwise, so it can gate a change. Standard library only; run it from the
repository root or anywhere else.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 5
ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir)
SRC = os.path.join("src", "main", "scala")
SKIP_DIRS = (os.path.join("graft", "oracle"), os.path.join("graft", "tools"))


def code_lines(text):
    """(line number, normalized text) of every code line of a Scala file."""
    out = []
    in_block = False
    for no, raw in enumerate(text.splitlines(), 1):
        line = raw.strip()
        if in_block:
            in_block = "*/" not in line
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        if (not line or line.startswith("//") or line.startswith("package ")
                or line.startswith("import ")):
            continue
        out.append((no, re.sub(r"\s+", " ", line)))
    return out


def scala_files(root):
    """Paths under root/src/main/scala, relative to root, sorted."""
    base = os.path.join(root, SRC)
    found = []
    for d, subdirs, files in os.walk(base):
        rel = os.path.relpath(d, base)
        if any(rel == s or rel.startswith(s + os.sep) for s in SKIP_DIRS):
            subdirs[:] = []
            continue
        subdirs.sort()
        found += [os.path.relpath(os.path.join(d, f), root)
                  for f in sorted(files) if f.endswith(".scala")]
    return found


def scan(sources, window=WINDOW):
    """Clusters of repeated windows over {path: text}.

    Returns (clusters, covered): each cluster is (length, first line,
    [(path, first line no, last line no)]); covered maps each path to the
    number of its code lines inside some repeated window."""
    lines = {p: code_lines(t) for p, t in sources.items()}
    places = defaultdict(list)
    for p in sorted(lines):
        ls = lines[p]
        for i in range(len(ls) - window + 1):
            places[tuple(t for _, t in ls[i:i + window])].append((p, i))
    repeated = {k: v for k, v in places.items() if len(v) >= 2}
    at = {loc: k for k, v in repeated.items() for loc in v}

    def continues(locs, step):
        """Whether the windows `step` lines on repeat at exactly those places."""
        moved = [(p, i + step) for p, i in locs]
        return moved[0] in at and repeated[at[moved[0]]] == moved

    covered = defaultdict(set)
    clusters = []
    for locs in sorted(repeated.values()):
        # a cluster starts where the window one line earlier does not
        # repeat at the same places, and grows while the next one does
        if continues(locs, -1):
            continue
        n = 1
        while continues(locs, n):
            n += 1
        spans = []
        for p, i in locs:
            ls = lines[p]
            last = i + n + window - 2
            covered[p].update(range(i, last + 1))
            spans.append((p, ls[i][0], ls[last][0]))
        clusters.append((n + window - 1, lines[locs[0][0]][locs[0][1]][1],
                         spans))
    return clusters, {p: len(s) for p, s in covered.items()}


def main():
    root = os.path.normpath(ROOT)
    sources = {}
    for p in scala_files(root):
        with open(os.path.join(root, p), encoding="utf-8") as f:
            sources[p] = f.read()
    clusters, covered = scan(sources)
    for n, first, spans in clusters:
        print(f"{n} lines x {len(spans)}: {first}")
        for p, a, b in spans:
            print(f"    {p}:{a}-{b}")
    print(f"== {len(clusters)} clusters ==")
    for p in sorted(covered, key=lambda p: (-covered[p], p)):
        print(f"{covered[p]:6d}  {p}")
    print(f"{sum(covered.values()):6d}  total repeated code lines")
    return 1 if clusters else 0


if __name__ == "__main__":
    sys.exit(main())
