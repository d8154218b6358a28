"""DuckDB oracle comparison: row count, column names and order-insensitive
exact values, the comparison the registry's parity tests make."""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def duckdb_frame(sql: str, data_dir: str) -> pd.DataFrame:
    """Run ``sql`` over views of every ``<name>.parquet`` in ``data_dir``."""
    con = duckdb.connect()
    try:
        for entry in sorted(os.listdir(data_dir)):
            if entry.endswith(".parquet"):
                path = f"{data_dir}/{entry}"
                if os.path.isdir(path):
                    path = f"{path}/*.parquet"
                con.execute(f"CREATE VIEW {entry[:-8]} AS SELECT * FROM '{path}'")
        return con.execute(sql).fetchdf()
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``exp`` as an unordered relation, else a
    one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for col in g.columns:
        gs, es = g[col], e[col]
        if pd.api.types.is_datetime64_any_dtype(es) or pd.api.types.is_datetime64_any_dtype(gs):
            gs = pd.to_datetime(gs).astype("datetime64[us]")
            es = pd.to_datetime(es).astype("datetime64[us]")
        if gs.dtype.kind in "iuf" and es.dtype.kind in "iuf":
            if (gs.dtype.kind in "iu") != (es.dtype.kind in "iu"):
                return f"{col}: int/float representation {gs.dtype} vs {es.dtype}"
        try:
            pd.testing.assert_series_equal(
                gs, es, check_dtype=False, check_exact=True, check_names=False
            )
        except AssertionError as exc:
            return f"{col}: {str(exc).splitlines()[0]}"
    return None
