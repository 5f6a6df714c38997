#!/usr/bin/env python3
"""Compare two `graft.tools.Profile` plan directories query by query.

Usage: python3 tools/plan_compare.py <planDirA> <planDirB> [--lines N]

Profile writes one formatted physical plan per query as
`<planDir>/<query>_<tag>.txt`; each directory holds one tag, and files
are matched by query name. Before comparing, both sides are masked for
what changes from run to run or checkout to checkout without the plan
changing:

  - expression ids (`#123`, `#123L`) and exchange plan ids (`plan_id=9`);
  - RDD ids (`MapPartitionsRDD[366]`) and RDD call sites
    (`at localCheckpoint at Components.scala:300`);
  - JVM lambda class names (`...$$Lambda/0x...@1f2e`) and identity hashes
    of literal objects (`UnsafeArrayData@5fc1f393`);
  - numbered lambda variables (`lambda x_11`), named from a JVM-wide
    counter;
  - spark-warehouse paths, which name the checkout.

Prints each query whose masked plans differ with the first N lines of
their unified diff (default 20), and each query present on one side
only. Exit status 1 on any difference, 0 when every plan matches.
"""
import argparse
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\bat [\w$.<>]+ at [\w$]+\.(?:scala|java):\d+"), "at <site>"),
    (re.compile(r"\$+Lambda[\w$/.]*(?:@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@<hash>"),
    (re.compile(r"\b([A-Za-z]+)_\d+(?=[#\s,)\]])"), r"\1_N"),
    (re.compile(r"file:\S*?/spark-warehouse"), "<warehouse>"),
]


def mask(text):
    for pat, sub in MASKS:
        text = pat.sub(sub, text)
    return text


def plans(root):
    names = sorted(n for n in os.listdir(root) if n.endswith(".txt"))
    tags = {n[:-4].rsplit("_", 1)[-1] for n in names}
    if len(tags) != 1:
        sys.exit(f"{root}: expected one Profile tag, found {sorted(tags)}")
    tag = "_" + tags.pop() + ".txt"
    return {n[:-len(tag)]: os.path.join(root, n) for n in names}


def main():
    ap = argparse.ArgumentParser(
        description="Compare two graft.tools.Profile plan directories.")
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--lines", type=int, default=20,
                    help="diff lines shown per differing query")
    args = ap.parse_args()
    a, b = plans(args.a), plans(args.b)
    identical = differ = 0
    for q in sorted(a.keys() | b.keys()):
        if q not in a or q not in b:
            print(f"{q}: only in {args.a if q in a else args.b}")
            differ += 1
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            ma, mb = mask(fa.read()), mask(fb.read())
        if ma == mb:
            identical += 1
            continue
        differ += 1
        diff = difflib.unified_diff(
            ma.splitlines(), mb.splitlines(), "A", "B", lineterm="", n=0)
        print(f"{q}: plans differ")
        for line in list(diff)[2:2 + args.lines]:
            print("    " + line[:400])
    print(f"{len(a)} vs {len(b)} plans: {identical} identical after "
          f"masking, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
