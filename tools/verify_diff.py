#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query, bit for bit.

    python3 tools/verify_diff.py A B

Each query's rows are put in a canonical order and compared value by value:
doubles and floats by their raw bits (so -0.0 vs 0.0 and distinct NaN
payloads count as differences), nulls as nulls, everything else by value and
type. The schema (column names and types, in order) must match too. Prints
`identical`, `differs: ...` or `missing in A|B` per query and a summary
line; `oracle_sql.json` is compared as a whole. Exits 1 on any difference
or missing query, 0 when every query is identical.
"""
import glob
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def queries(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def read(qdir):
    files = sorted(glob.glob(os.path.join(qdir, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    if not tables:
        return None
    return pa.concat_tables(tables) if len(tables) > 1 else tables[0]


def value_key(v):
    """Canonical, totally ordered key of one (possibly nested) value."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, "f", struct.unpack("<Q", struct.pack("<d", v))[0])
    if isinstance(v, (list, tuple)):
        return (1, "l", tuple(value_key(x) for x in v))
    if isinstance(v, dict):
        return (1, "d", tuple((k, value_key(x)) for k, x in v.items()))
    return (1, type(v).__name__, repr(v))


def column_keys(col):
    """Per-row keys of one column; float columns keep their raw bits."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = col.type
    if pa.types.is_floating(t) and len(col):
        bits = {16: np.uint16, 32: np.uint32, 64: np.uint64}[t.bit_width]
        raw = np.frombuffer(col.buffers()[1], dtype=bits,
                            count=len(col) + col.offset)[col.offset:]
        nulls = col.is_null().to_numpy(zero_copy_only=False)
        return [(0,) if n else (1, "f", int(b)) for n, b in zip(nulls, raw)]
    return [value_key(v) for v in col.to_pylist()]


def canonical_rows(table):
    cols = [column_keys(table.column(i)) for i in range(table.num_columns)]
    return sorted(zip(*cols)) if cols else [()] * table.num_rows


def diff_query(a_dir, b_dir):
    """(identical: bool, detail) for one query's two output directories."""
    ta, tb = read(a_dir), read(b_dir)
    if ta is None or tb is None:
        return False, "no parquet output in " + ("A" if ta is None else "B")
    if ta.schema != tb.schema:
        return False, f"schema {ta.schema.to_string()!r} vs {tb.schema.to_string()!r}"
    if ta.num_rows != tb.num_rows:
        return False, f"rows {ta.num_rows} vs {tb.num_rows}"
    ra, rb = canonical_rows(ta), canonical_rows(tb)
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return False, f"canonical row {i}: {x} vs {y}"
    return True, ""


def main(argv):
    if len(argv) != 3:
        print("usage: python3 tools/verify_diff.py A B", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    qa, qb = queries(a), queries(b)
    counts = {"identical": 0, "differs": 0, "missing": 0}
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            counts["missing"] += 1
            print(f"{q}: missing in {'A' if q not in qa else 'B'}")
            continue
        same, detail = diff_query(os.path.join(a, q), os.path.join(b, q))
        counts["identical" if same else "differs"] += 1
        print(f"{q}: identical" if same else f"{q}: differs: {detail}")
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    oracle_same = True
    if os.path.exists(oa) or os.path.exists(ob):
        oracle_same = (os.path.exists(oa) and os.path.exists(ob)
                       and json.load(open(oa)) == json.load(open(ob)))
        print("oracle_sql.json: " + ("identical" if oracle_same else "differs"))
    print(f"\n{counts['identical']} identical, {counts['differs']} differ, "
          f"{counts['missing']} missing")
    return 0 if counts["differs"] == counts["missing"] == 0 and oracle_same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
