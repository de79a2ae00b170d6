"""Compare the olap workload's Spark results with DuckDB answers.

Each query's oracle SQL (graft.SparkEntry.oracleSql) runs in DuckDB over the
same generated parquet tables; both sides are normalised the way graft's
correctness gate does it (columns sorted by name, rows sorted by every
column, integer widths collapsed, floats compared exactly after each side's
own rounding).
"""
import datetime
import glob
import os

import duckdb
import pandas as pd


def _norm(df):
    for c in df.columns:
        if df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and all(isinstance(v, datetime.date) for v in nn.head(5)):
                df[c] = pd.to_datetime(df[c])
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(dt):
    k = getattr(dt, "kind", None)
    return {"i": "int", "u": "int", "f": "float", "M": "datetime", "b": "bool"}.get(k, str(dt))


def compare(spark_df, duck_df):
    """Returns a list of mismatch descriptions (empty when equal)."""
    s_df, d_df = _norm(spark_df), _norm(duck_df)
    if list(s_df.columns) != list(d_df.columns):
        return [f"columns spark={list(s_df.columns)} duckdb={list(d_df.columns)}"]
    if len(s_df) != len(d_df):
        return [f"rows spark={len(s_df)} duckdb={len(d_df)}"]
    bad = []
    for c in s_df.columns:
        s, d = s_df[c], d_df[c]
        if _kind(s.dtype) != _kind(d.dtype):
            bad.append(f"dtype[{c}] spark={s.dtype} duckdb={d.dtype}")
        elif s.dtype.kind == "f" or d.dtype.kind == "f":
            sa, da = s.astype(float), d.astype(float)
            diff = (sa - da).abs()
            diff[sa.isna() & da.isna()] = 0.0
            if diff.fillna(float("inf")).max() != 0.0:
                bad.append(f"float[{c}] maxdiff={diff.max()}")
        elif not s.astype(str).equals(d.astype(str)):
            i = (s.astype(str) != d.astype(str)).idxmax()
            bad.append(f"value[{c}] row {i}: spark={s[i]!r} duckdb={d[i]!r}")
    return bad


def check(oracle):
    """`oracle` is the harness's record: data_dir and, per query, its SQL and
    result directory. Returns {query: (ok, detail)}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for table in glob.glob(os.path.join(oracle["data_dir"], "*.parquet")):
        name = os.path.basename(table)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{table}/*.parquet')")
    out = {}
    for q in oracle["queries"]:
        try:
            bad = compare(pd.read_parquet(q["result_dir"]), con.execute(q["sql"]).fetchdf())
            out[q["name"]] = (not bad, "; ".join(bad) or "equal")
        except Exception as e:  # a failing query is a failed check, not a crash
            out[q["name"]] = (False, f"{type(e).__name__}: {e}")
    con.close()
    return out
