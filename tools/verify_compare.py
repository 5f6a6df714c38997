#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories byte for byte.

Usage: python3 tools/verify_compare.py <verifyOutA> <verifyOutB>

For every query's parquet part file and for oracle_sql.json, prints how
many are sha256-identical. Two Verify runs of the same commit do not give
sha256-identical part files: parquet-mr writes each column chunk's
encoding list in a hash order that changes from JVM to JVM, so footer
bytes move while the data does not. A part file whose sha256 differs
therefore still counts as unchanged when its data region (everything
before the footer) is byte-identical and its footer is equal once every
encoding list is sorted. Anything else is reported as a difference, and
the exit status is 1.

Tooling only (pyarrow is a tooling dependency, not a library dependency).
"""
import glob
import hashlib
import os
import struct
import sys

import pyarrow.parquet as pq


def files(root):
    out = {}
    for p in glob.glob(os.path.join(root, "*", "part-*")):
        name = os.path.basename(p)
        # part-NNNNN-<per-run uuid>...: key by query and part index
        out[os.path.basename(os.path.dirname(p)) + "/" +
            "-".join(name.split("-")[:2])] = p
    out["oracle_sql.json"] = os.path.join(root, "oracle_sql.json")
    return out


def data_region(b):
    footer = struct.unpack("<i", b[-8:-4])[0]
    return b[:len(b) - 8 - footer]


def canonical_footer(path):
    md = pq.ParquetFile(path).metadata
    d = md.to_dict()
    for rg in d["row_groups"]:
        for c in rg["columns"]:
            c["encodings"] = tuple(sorted(c["encodings"]))
    schema = md.schema.to_arrow_schema().to_string(show_schema_metadata=True)
    return d, md.metadata, schema


def main(a_dir, b_dir):
    a, b = files(a_dir), files(b_dir)
    missing = sorted(set(a) ^ set(b))
    for k in missing:
        print("ONLY IN ONE SIDE", k)
    same = reordered = 0
    differ = []
    for k in sorted(set(a) & set(b)):
        x = open(a[k], "rb").read()
        y = open(b[k], "rb").read()
        if hashlib.sha256(x).digest() == hashlib.sha256(y).digest():
            same += 1
        elif (k != "oracle_sql.json" and data_region(x) == data_region(y)
              and canonical_footer(a[k]) == canonical_footer(b[k])):
            reordered += 1
        else:
            differ.append(k)
            print("DIFF", k)
    print(f"{len(a)} vs {len(b)} files: {same} sha256-identical, "
          f"{reordered} differ only in footer encoding-list order, "
          f"{len(differ)} differ, {len(missing)} unmatched")
    return 1 if differ or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
