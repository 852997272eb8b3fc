"""Output check: each op's parquet result against its DuckDB oracle query.

The compare rules are those of the engine's oracle gate: columns sorted by
name, rows sorted by every column, values compared exactly, dtypes ignored.
Expected results are cached as pickles keyed by input, since the oracle is a
pure function of the input tables."""
import os

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def connect(tables: dict) -> duckdb.DuckDBPyConnection:
    """``tables`` maps view name -> parquet path or glob."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected(con, name: str, sql: str, cache_dir: str) -> pd.DataFrame:
    path = os.path.join(cache_dir, f"{name}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = canon(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check(con, name: str, sql: str, result_dir: str, cache_dir: str):
    """None when the result matches its oracle, else the reason."""
    try:
        got = canon(con.sql(
            f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df())
        exp = expected(con, name, sql, cache_dir)
        if list(got.columns) != list(exp.columns):
            return f"columns {list(got.columns)} != {list(exp.columns)}"
        pd.testing.assert_frame_equal(got, exp, check_exact=True,
                                      check_dtype=False)
        return None
    except Exception as ex:  # any failure to read or compare is a mismatch
        return str(ex).replace("\n", " | ")[:300]
