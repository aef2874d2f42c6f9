"""DuckDB oracle gate for the benchmark's Runner outputs.

Each query key's oracle SQL (SparkEntry.oracleSql) runs once per
(workload, seed) against the generated parquet tables. Both sides are
normalised the way tools/selfcheck.py does it: columns sorted by name,
floats rounded to 6 places, dates and datetimes as datetime64[ns], and
integer-versus-float kinds kept apart. The oracle result is cached as
an order-independent digest plus the normalised frame; a run digests
each of its own outputs and compares, falling back to selfcheck's
tolerant comparison only when the digests differ (a float that rounds
the other way at the 6th place).
"""
import glob
import hashlib
import json
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    """Nested values (arrays, structs) as a stable string."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, float):
        return "nan" if v != v else repr(round(v, 6) + 0.0)
    return repr(v)


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if s.dtype.kind == "f":
            # +0.0 folds -0.0 into 0.0; nulls become one canonical NaN
            df[c] = (s.astype("float64").round(6) + 0.0).where(s.notna(), np.nan)
        elif s.dtype.kind in "iu":
            df[c] = s.astype("int64")
        elif s.dtype.kind == "M":
            df[c] = pd.to_datetime(s).astype("datetime64[ns]")
        elif s.dtype == "object" and len(s) > 0:
            first = s.dropna().iloc[0] if s.notna().any() else None
            if type(first).__name__ in ("date", "datetime", "Timestamp"):
                df[c] = pd.to_datetime(s).astype("datetime64[ns]")
            elif isinstance(first, (list, tuple, np.ndarray, dict)):
                df[c] = s.map(lambda v: None if v is None else _canon(v))
            else:
                df[c] = s.where(s.notna(), None)
    return df


def digest(df):
    """Order-independent digest of a normalised frame: schema, kinds,
    row count and the wrapping sum of per-row hashes."""
    kinds = ["f" if df[c].dtype.kind == "f" else "i" if df[c].dtype.kind in "iu"
             else str(df[c].dtype) for c in df.columns]
    h = np.uint64(0)
    if len(df):
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
        h = rows.sum(dtype=np.uint64)
    key = json.dumps([list(df.columns), kinds, len(df), int(h)])
    return hashlib.sha1(key.encode()).hexdigest()


def tolerant_equal(a, b):
    """tools/selfcheck.py's comparison of two normalised frames."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    if any({a[c].dtype.kind, b[c].dtype.kind} == {"i", "f"} for c in a.columns):
        return False
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False,
                                      rtol=1e-6, atol=1e-9)
        return True
    except AssertionError:
        return False


def build_oracle(data_dir, oracle_sql, keys, cache_dir):
    """Run each key's oracle in DuckDB over `data_dir`; cache digest and
    frame under `cache_dir` (done once per workload and seed)."""
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    digests = {}
    for k in keys:
        df = normalize(con.sql(oracle_sql[k]).df())
        digests[k] = digest(df)
        with open(os.path.join(cache_dir, f"{k}.pkl"), "wb") as f:
            pickle.dump(df, f)
    with open(os.path.join(cache_dir, "digests.json"), "w") as f:
        json.dump(digests, f)


class Gate:
    """Compares Runner output directories against a cached oracle."""

    def __init__(self, cache_dir):
        self.cache_dir = cache_dir
        with open(os.path.join(cache_dir, "digests.json")) as f:
            self.digests = json.load(f)
        self.frames = {}

    def check(self, key, out_dir):
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not os.path.exists(os.path.join(out_dir, "_SUCCESS")) or not files:
            return False
        df = normalize(pd.concat([pd.read_parquet(f) for f in files],
                                 ignore_index=True))
        if digest(df) == self.digests[key]:
            return True
        if key not in self.frames:
            with open(os.path.join(self.cache_dir, f"{key}.pkl"), "rb") as f:
                self.frames[key] = pickle.load(f)
        return tolerant_equal(df, self.frames[key])
