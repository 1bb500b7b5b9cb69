#!/usr/bin/env python3
"""Checks that two parquet files hold the same table.

Usage: python3 tools/parquet_equal.py <a.parquet> <b.parquet>

Exits 0 when the files are equal under pyarrow `Table.equals` with
`check_metadata=True` (schema, field metadata and every value), have the
same footer key-value metadata and the same number of row groups; exits 1
and names each difference otherwise.

File bytes are not compared: two JVM runs of the same program write the
same table with each column chunk's `encodings` list in a different order.
"""
import sys

import pyarrow.parquet as pq


def differences(a, b):
    fa, fb = pq.ParquetFile(a), pq.ParquetFile(b)
    out = []
    if fa.metadata.num_row_groups != fb.metadata.num_row_groups:
        out.append(f"row groups {fa.metadata.num_row_groups} != {fb.metadata.num_row_groups}")
    ka, kb = fa.metadata.metadata or {}, fb.metadata.metadata or {}
    for k in sorted(set(ka) | set(kb)):
        if ka.get(k) != kb.get(k):
            out.append(f"footer key {k.decode(errors='replace')} differs")
    ta, tb = fa.read(), fb.read()
    if not ta.schema.equals(tb.schema, check_metadata=True):
        out.append(f"schemas differ:\n{ta.schema}\nvs\n{tb.schema}")
    elif not ta.equals(tb, check_metadata=True):
        out.append(f"values differ ({ta.num_rows} vs {tb.num_rows} rows)")
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    diffs = differences(argv[1], argv[2])
    for d in diffs:
        print(f"parquet_equal: {d}")
    print("parquet_equal: equal" if not diffs else "parquet_equal: NOT equal")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
