#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate: run each
oracle SQL in DuckDB against the sf parquet tables, compare with the
Verify parquet dump (columns sorted by name, rows sorted, values
rounded for float tolerance). Usage:
  python3 tools/selfcheck.py /root/testdata/sf0.01 /tmp/verify_out
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    # Spark-written tables are DIRECTORIES of part files (the ScaleUp
    # sf1 probe data); driver-written testdata is a single file
    p = f"{sfdir}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
missing = [n for n in oracles if not os.path.isdir(os.path.join(outdir, n))]
for n in missing:
    print(f"{n:24s} NO DUMP (query failed in Verify?)")

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
        # normalize datetimes (and python date objects) to ns
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
        elif df[c].dtype == "object" and len(df) > 0 and \
                type(df[c].iloc[0]).__name__ in ("date", "datetime", "Timestamp"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)

fails = []
rows_only = []
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in glob.glob(f"{d}/*.parquet")],
                         ignore_index=True)
    if name not in oracles:
        rows_only.append(name)
        print(f"{name:24s} rows-only: {len(spark_df)} rows "
              + ("OK" if len(spark_df) > 0 else "EMPTY!"))
        if len(spark_df) == 0:
            fails.append(name)
        continue
    try:
        oracle_df = con.sql(oracles[name]).df()
    except Exception as e:
        print(f"{name:24s} ORACLE SQL ERROR: {e}")
        fails.append(name)
        continue
    a, b = norm(spark_df), norm(oracle_df)
    if list(a.columns) != list(b.columns):
        print(f"{name:24s} SCHEMA MISMATCH spark={list(a.columns)} oracle={list(b.columns)}")
        fails.append(name)
        continue
    if len(a) != len(b):
        print(f"{name:24s} ROWCOUNT spark={len(a)} oracle={len(b)}")
        fails.append(name)
        continue
    # The driver hashes VALUES exactly: an int64 420 vs a float64 420.0
    # hash-differ even though assert_frame_equal(check_dtype=False) passes.
    # DuckDB sum() over integers returns HUGEINT -> pandas float64, so any
    # uncast aggregate projection in an oracle is exactly this trap
    # (round-7 q_t_closeness). Flag integer-vs-float kind mismatches hard.
    kind_bad = [c for c in a.columns
                if {a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"}]
    if kind_bad:
        print(f"{name:24s} DTYPE KIND MISMATCH (int vs float — driver hash "
              f"will fail): " + ", ".join(
                  f"{c} spark={a[c].dtype} oracle={b[c].dtype}" for c in kind_bad))
        fails.append(name)
        continue
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=1e-6, atol=1e-9)
        print(f"{name:24s} OK ({len(a)} rows)")
    except AssertionError as e:
        print(f"{name:24s} VALUE MISMATCH: {str(e)[:300]}")
        fails.append(name)

fails += missing
# a key that lost its oracle lands here instead of failing: name them
print("\n%d/%d passed; %d rows-only: %s" % (
    len(oracles) - sum(1 for f in fails if f in oracles), len(oracles),
    len(rows_only), ", ".join(rows_only) or "-"))
sys.exit(1 if fails else 0)
