#!/usr/bin/env python3
"""Compare two SPARK_GRAFT_EXPLAIN plan-dump directories.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

A refactor that claims to leave query plans unchanged dumps the plans of
the same queries from both trees, at the same scale factor and
SPARK_GRAFT_CPUS, e.g.

    SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_EXPLAIN=<dump dir> \
      SPARK_GRAFT_ONLY=q1,q2 sbt --batch 'runMain graft.Bench'

and this script compares them file by file. Before comparing, it
rewrites the tokens that change between any two runs without changing
the plan:
  - expression ids `#123` / `#123L`,
  - `plan_id=123`,
  - RDD ids `RDD[123]` of checkpointed inputs,
  - the source line of the call that built such an RDD (`Foo.scala:123`),
    which moves whenever code above it is edited,
  - the process id in per-process store roots, `-p<pid>` in
    `graft-store-<kind>-<fixture>-p<pid>` (StoreRoots.tmpRoot) and in
    `graft-sql-warehouse-p<pid>` (SourceOps.sqlWarehouse), written `-pN`,
  - the identity hash in an object's default `toString` (`Foo@1f8e9877`,
    written `Foo@N`) and the JVM-generated class name of a function
    object (`Foo$$$Lambda$123/0x00007f...`, written `Foo$$$Lambda$N`).
No plan prints a path under the working directory, so two checkouts of
one tree, each dumped from its own directory, compare equal.
It prints the first differing line of each differing query and any
query dumped on one side only, and exits 1 on any difference, 0 if
every plan matches.
"""
import os
import re
import sys

_TOKENS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"(graft-store-[\w.-]*?-p|graft-sql-warehouse-p)\d+\b"), r"\1N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]{1,8}\b"), "@N"),
]


def normalize(text):
    for pat, sub in _TOKENS:
        text = pat.sub(sub, text)
    return text.splitlines()


def dumps(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def first_diff(a, b):
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i + 1, x, y
    n = min(len(a), len(b))
    return (n + 1, a[n] if n < len(a) else "<end>",
            b[n] if n < len(b) else "<end>")


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    da, db = argv[1], argv[2]
    qa, qb = dumps(da), dumps(db)
    for q in sorted(qa ^ qb):
        print(f"{q}: only in {da if q in qa else db}")
    differ = 0
    for q in sorted(qa & qb):
        with open(os.path.join(da, q + ".txt"), encoding="utf-8") as f:
            a = normalize(f.read())
        with open(os.path.join(db, q + ".txt"), encoding="utf-8") as f:
            b = normalize(f.read())
        if a != b:
            line, x, y = first_diff(a, b)
            print(f"{q}: line {line}\n  A: {x}\n  B: {y}")
            differ += 1
    print(f"{len(qa & qb) - differ}/{len(qa | qb)} plans match")
    return 1 if differ or qa ^ qb else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
