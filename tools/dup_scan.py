#!/usr/bin/env python3
"""List blocks of code written more than once in the Scala sources.

Usage: python3 tools/dup_scan.py [--min N] [root]

Scans every *.scala file under `root` (default: src/main). Each line is
trimmed; blank lines, comment lines (starting with //, /*, * or */) and
SQL-string lines (starting with |, the stripMargin bodies of the oracle
SQL) are dropped, so a run is counted over code lines only. A region is
a maximal run of at least N (default 6) consecutive kept lines that
appears verbatim at two places; a block written k times gives k(k-1)/2
pairwise regions. Runs that overlap themselves in one file are cut where
the overlap starts.

Prints one line per region, longest first,

    <len>  <file>:<first line>  <file>:<first line>

then a total: the number of pairwise regions and the number of distinct
source lines they cover.
"""
import os
import sys


def kept_lines(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            t = raw.strip()
            if not t or t.startswith(("//", "/*", "*", "|")):
                continue
            out.append((no, t))
    return out


def scan(root, n):
    files = []
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                files.append(os.path.join(d, name))
    files.sort()
    seqs = [kept_lines(p) for p in files]
    windows = {}
    for fi, seq in enumerate(seqs):
        texts = [t for _, t in seq]
        for i in range(len(texts) - n + 1):
            windows.setdefault(tuple(texts[i:i + n]), []).append((fi, i))
    regions = []
    for occ in windows.values():
        for x in range(len(occ)):
            for y in range(x + 1, len(occ)):
                (fa, a), (fb, b) = occ[x], occ[y]
                sa, sb = seqs[fa], seqs[fb]
                # not maximal: the pair also matches one line earlier
                if a > 0 and b > 0 and sa[a - 1][1] == sb[b - 1][1]:
                    continue
                length = n
                while a + length < len(sa) and b + length < len(sb) and \
                        sa[a + length][1] == sb[b + length][1]:
                    length += 1
                if fa == fb:
                    length = min(length, b - a)
                if length >= n:
                    regions.append((length, fa, a, fb, b))
    regions.sort(key=lambda r: (-r[0], r[1], r[2], r[3], r[4]))
    covered = set()
    for length, fa, a, fb, b in regions:
        for k in range(length):
            covered.add((fa, seqs[fa][a + k][0]))
            covered.add((fb, seqs[fb][b + k][0]))
    return files, seqs, regions, len(covered)


def main(argv):
    n, root = 6, "src/main"
    args = list(argv)
    while args:
        a = args.pop(0)
        if a == "--min":
            n = int(args.pop(0))
        else:
            root = a
    files, seqs, regions, covered = scan(root, n)
    for length, fa, a, fb, b in regions:
        print(f"{length:4d}  {os.path.relpath(files[fa], root)}:{seqs[fa][a][0]}"
              f"  {os.path.relpath(files[fb], root)}:{seqs[fb][b][0]}")
    print(f"total: {len(regions)} pairwise regions of >= {n} repeated lines, "
          f"covering {covered} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
