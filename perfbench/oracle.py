"""DuckDB oracle check of `analytics_mix` results.

The harness dumps the first result of each fixed-parameter request with
a DuckDB twin in `graft.SparkEntry.oracleSql`; each dump must equal its
twin's result on the same tables, as an unordered multiset of rows.
"""
import duckdb
import numpy as np
import pandas as pd

import tables


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        t = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
        elif t.startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("Int64")
        elif t.startswith("float"):
            df[c] = df[c].astype("float64")
        elif t.startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def check(items, table_dir):
    """Returns one message per request whose result differs."""
    con = duckdb.connect()
    for t in tables.NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    bad = []
    for it in items:
        name = it["name"]
        try:
            got = _norm(pd.read_parquet(it["path"]))
            want = _norm(con.execute(it["sql"]).df())
        except Exception as e:  # a failing twin is a failed check
            bad.append(f"{name}: oracle error {type(e).__name__}: {e}")
            continue
        if list(got.columns) != list(want.columns):
            bad.append(f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}")
        elif len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows != oracle {len(want)}")
        elif not got.equals(want):
            for c in got.columns:
                a, b = got[c], want[c]
                diff = ~((a == b) | (a.isna() & b.isna()))
                if diff.any():
                    i = int(np.argmax(diff.values))
                    bad.append(f"{name}: column {c} row {i}: {a.iloc[i]!r} != oracle {b.iloc[i]!r}")
                    break
            else:
                bad.append(f"{name}: frames differ")
    return bad
