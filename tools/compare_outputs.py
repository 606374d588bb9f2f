#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

For every query directory in either tree it checks the column names,
their types and their order, and then the rows in the order they were
written (NaN equals NaN; nothing else is loosened). It prints one line
per query:

  SAME <query> (<rows> rows)
  DIFF <query>: <first difference>
  MISSING <query>: only in <dir>

and one line for oracle_sql.json when either side has it. It exits
non-zero if any query (or oracle_sql.json) differs or is missing, so a
refactor that should not move any result can be checked with

  python3 tools/compare_outputs.py /tmp/verify_before /tmp/verify_after
"""
import filecmp
import glob
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def read_query(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError("no parquet files")
    return pa.concat_tables([pq.read_table(f) for f in files])


def same_value(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def first_difference(a: pa.Table, b: pa.Table):
    sa = [(f.name, str(f.type)) for f in a.schema]
    sb = [(f.name, str(f.type)) for f in b.schema]
    if sa != sb:
        return f"schema {sa} != {sb}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} != {b.num_rows}"
    for name in a.column_names:
        xs, ys = a.column(name).to_pylist(), b.column(name).to_pylist()
        for i, (x, y) in enumerate(zip(xs, ys)):
            if not same_value(x, y):
                return f"col {name} row {i}: {x!r} != {y!r}"
    return None


def query_dirs(root: str) -> set:
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}


def main(dir_a: str, dir_b: str) -> int:
    bad = 0
    qa, qb = query_dirs(dir_a), query_dirs(dir_b)
    for q in sorted(qa | qb):
        if q not in qb or q not in qa:
            print(f"MISSING {q}: only in {dir_a if q in qa else dir_b}")
            bad += 1
            continue
        try:
            ta = read_query(os.path.join(dir_a, q))
            tb = read_query(os.path.join(dir_b, q))
            diff = first_difference(ta, tb)
        except Exception as e:  # unreadable output is a difference too
            diff = f"unreadable: {e}"
        if diff:
            print(f"DIFF {q}: {diff}")
            bad += 1
        else:
            print(f"SAME {q} ({ta.num_rows} rows)")
    oa = os.path.join(dir_a, "oracle_sql.json")
    ob = os.path.join(dir_b, "oracle_sql.json")
    if os.path.exists(oa) or os.path.exists(ob):
        if not (os.path.exists(oa) and os.path.exists(ob)):
            print("MISSING oracle_sql.json")
            bad += 1
        elif filecmp.cmp(oa, ob, shallow=False):
            print("SAME oracle_sql.json")
        else:
            print("DIFF oracle_sql.json")
            bad += 1
    print(f"{len(qa | qb)} queries, {bad} not same")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
