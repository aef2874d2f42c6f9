#!/usr/bin/env python3
"""Compare two graft.Verify dumps, key by key. Usage:
  python3 tools/dump_diff.py <parent_dump> <change_dump>

Checks that oracle_sql.json is byte-identical, then reads every key
directory found on either side with pyarrow and compares the tables
with Table.equals: schema first, then the rows in order. Lists the
missing, extra and mismatched keys and exits non-zero on any
difference.
"""
import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def keys(dump):
    return {n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n))}


def read(dump, key):
    # Verify writes one coalesced part per key; read parts in name order
    parts = sorted(glob.glob(os.path.join(dump, key, "*.parquet")))
    return pa.concat_tables([pq.read_table(p) for p in parts])


def fields(table):
    return ", ".join(str(f) for f in table.schema)


def main(parent, change):
    diffs = []
    with open(os.path.join(parent, "oracle_sql.json"), "rb") as f:
        a = f.read()
    with open(os.path.join(change, "oracle_sql.json"), "rb") as f:
        b = f.read()
    print("oracle_sql.json: " + ("identical" if a == b else
                                 f"DIFFERS ({len(a)} vs {len(b)} bytes)"))
    if a != b:
        diffs.append("oracle_sql.json")
    pk, ck = keys(parent), keys(change)
    missing, extra = sorted(pk - ck), sorted(ck - pk)
    for k in missing:
        print(f"{k:28s} MISSING in {change}")
    for k in extra:
        print(f"{k:28s} EXTRA in {change}")
    mismatched = []
    for k in sorted(pk & ck):
        ta, tb = read(parent, k), read(change, k)
        if not ta.schema.equals(tb.schema):
            print(f"{k:28s} SCHEMA [{fields(ta)}] vs [{fields(tb)}]")
            mismatched.append(k)
        elif not ta.equals(tb):
            print(f"{k:28s} ROWS {ta.num_rows} vs {tb.num_rows} rows differ")
            mismatched.append(k)
    equal = len(pk & ck) - len(mismatched)
    print(f"\n{equal}/{len(pk | ck)} keys equal; missing {len(missing)}, "
          f"extra {len(extra)}, mismatched {len(mismatched)}")
    diffs += missing + extra + mismatched
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
