#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/dump_diff.py <dumpA> <dumpB> [names...]

For each query (the names given, or every query directory in either
dump) it reads the parquet part files through DuckDB and requires the
same schema (column names and types, in order) and the same rows in
written order. Values compare by their DuckDB text form, so NaN equals
NaN but -0.0 differs from 0.0. Parquet bytes are not compared: the
footer's encodings list varies from JVM to JVM, so two runs of one
commit are not byte-identical.

Prints SAME/DIFF/MISSING per query and exits 1 on any difference, 2 on
a name that neither dump holds.
"""
import glob
import os
import sys

import duckdb


def queries(root):
    return {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{root}/*/")}


def quote(ident):
    return '"' + ident.replace('"', '""') + '"'


def load(con, root, name):
    """Schema as [(column, type)] and rows as tuples of value texts in
    written order: part files by name, then row number within a file."""
    files = sorted(glob.glob(f"{root}/{name}/*.parquet"))
    if not files:
        return None, None
    flist = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
    src = f"read_parquet({flist}, filename=true, file_row_number=true)"
    schema = [(c, t) for c, t, *_ in
              con.execute(f"DESCRIBE SELECT * FROM read_parquet({flist})").fetchall()]
    cols = ", ".join(f"CAST({quote(c)} AS VARCHAR)" for c, _ in schema) or "NULL"
    rows = con.execute(
        f"SELECT {cols} FROM {src} "
        f"ORDER BY list_position({flist}, filename), file_row_number").fetchall()
    return schema, rows


def compare(con, a, b, name):
    sa, ra = load(con, a, name)
    sb, rb = load(con, b, name)
    if sa is None or sb is None:
        print(f"MISSING  {name}: no parquet in {a if sa is None else b}")
        return False
    if sa != sb:
        print(f"DIFF     {name}: schema {sa} vs {sb}")
        return False
    if ra != rb:
        first = next((i for i, (x, y) in enumerate(zip(ra, rb)) if x != y),
                     min(len(ra), len(rb)))
        print(f"DIFF     {name}: {len(ra)} vs {len(rb)} rows, first difference "
              f"at row {first}: {ra[first] if first < len(ra) else '-'} vs "
              f"{rb[first] if first < len(rb) else '-'}")
        return False
    print(f"SAME     {name} ({len(ra)} rows)")
    return True


def main(a, b, names):
    held = queries(a) | queries(b)
    unknown = sorted(set(names) - held)
    if unknown:
        print("names in neither dump: " + ", ".join(f"'{n}'" for n in unknown))
        return 2
    con = duckdb.connect()
    results = [compare(con, a, b, n) for n in sorted(set(names) or held)]
    n_diff = results.count(False)
    print(f"\n{len(results) - n_diff} same, {n_diff} different")
    return 1 if n_diff else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
