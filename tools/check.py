#!/usr/bin/env python3
"""Local dev harness mirroring the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [names...]

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the matching
SQL from oracle_sql.json in DuckDB with the sf tables registered as views,
sorts columns by name and rows by all columns, and diffs exactly.
Names after the two paths check only those queries; a name with neither
an oracle nor a dump exits 2.
Not part of the Scala deliverable — dev tooling only.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)

def main(sf_dir, out_dir, names=()):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            # driver fixtures are flat files; ScaleUp fixtures are Spark
            # parquet directories — glob the part files in that case
            pat = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    if names:  # dev-loop subset, mirrors Verify's SPARK_GRAFT_ONLY
        # a mistyped name must fail, not check nothing and pass
        dumped = {os.path.basename(d.rstrip("/")) for d in glob.glob(f"{out_dir}/*/")}
        unknown = sorted(names - oracles.keys() - dumped)
        if unknown:
            print("names with neither an oracle nor a dump: " +
                  ", ".join(f"'{n}'" for n in unknown))
            return 2
        oracles = {k: v for k, v in oracles.items() if k in names}
    n_pass = n_fail = 0
    for name in sorted(oracles):
        qdir = f"{out_dir}/{name}"
        files = glob.glob(f"{qdir}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no spark output")
            n_fail += 1
            continue
        got = canon(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
        exp = canon(con.execute(oracles[name]).fetchdf())
        ok_schema = list(got.columns) == list(exp.columns)
        ok_rows = len(got) == len(exp)
        ok_vals = False
        if ok_schema and ok_rows:
            try:
                # check_dtype=False matches the driver for width/unit-only
                # diffs (int32 vs int64, datetime us vs ns hash the same
                # values), but the driver's hasher DOES see float-vs-int
                # (round-6 q137: DuckDB HUGEINT->float64 made 150.0 vs 150)
                # -- flag that class explicitly.
                for c in got.columns:
                    gk, ek = got[c].dtype.kind, exp[c].dtype.kind
                    if {gk, ek} <= {"i", "u", "f"} and gk != ek and "f" in (gk, ek):
                        raise AssertionError(
                            f"column {c}: float-vs-int dtype (spark={got[c].dtype}, "
                            f"oracle={exp[c].dtype}) — driver hash WILL differ")
                pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                              check_exact=True)
                ok_vals = True
            except AssertionError as e:
                msg = str(e).splitlines()
                print(f"VALDIFF  {name}: {msg[0] if msg else e}")
                # show first differing rows
                neq = (got.astype(str) != exp.astype(str)).any(axis=1)
                print(got[neq].head(3))
                print(exp[neq].head(3))
        if ok_schema and ok_rows and ok_vals:
            print(f"PASS     {name} ({len(got)} rows)")
            n_pass += 1
        else:
            if not ok_schema:
                print(f"SCHEMA   {name}: spark={list(got.columns)} oracle={list(exp.columns)}")
            elif not ok_rows:
                print(f"ROWCOUNT {name}: spark={len(got)} oracle={len(exp)}")
            n_fail += 1
    # rows-only queries (no oracle)
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        name = os.path.basename(qdir.rstrip("/"))
        if names and name not in names:
            continue
        if name not in oracles:
            files = glob.glob(f"{qdir}/*.parquet")
            n = sum(len(pd.read_parquet(f)) for f in files) if files else 0
            print(f"{'ROWSOK' if n > 0 else 'EMPTY!'}   {name} ({n} rows, no oracle)")
            if n == 0: n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], set(sys.argv[3:])))
