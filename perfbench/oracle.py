"""DuckDB oracle check for the analytics workload.

Each sampled query's Spark result (parquet, written by the harness's
last timed pass) must equal its `SparkEntry.oracleSql` twin run by
DuckDB over the same generated tables: same columns (compared by
name), same row count, same values in order; floats exactly, NaN and
null alike. Every mismatch is returned as a failure.
"""
import json
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    try:
        import pandas as pd
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def compare(con, sql, result_dir):
    """None when equal, else a one-line description of the first difference."""
    want = con.execute(sql).fetchdf()
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetchdf()
    want = want.reindex(sorted(want.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(want.columns) != list(got.columns):
        return f"columns want={list(want.columns)} got={list(got.columns)}"
    if len(want) != len(got):
        return f"rows want={len(want)} got={len(got)}"
    for c in want.columns:
        for i, (w, g) in enumerate(zip(want[c], got[c])):
            if _norm(w) != _norm(g):
                return f"{c}[{i}]: want={_norm(w)!r} got={_norm(g)!r}"
    return None


def check(data_dir, results_dir, oracle_path, errored):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    failures = []
    for name, sql in sorted(json.load(open(oracle_path)).items()):
        if name in errored:
            continue  # the harness already counted the error
        try:
            diff = compare(con, sql, f"{results_dir}/{name}")
        except Exception as e:  # noqa: BLE001 - any oracle or read error is a failed check
            diff = f"oracle check error: {str(e).splitlines()[0]}"
        if diff:
            failures.append(f"analytics_failed: {name} differs from its DuckDB oracle: {diff}")
    return failures
