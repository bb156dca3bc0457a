"""DuckDB-oracle comparison harness mimicking the driver's t2 gate:
row-count + schema + order-insensitive value comparison after sorting
columns by name. Exact match required (queries must round floats)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            # date/datetime objects → datetime64; other objects → str
            try:
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            except (ValueError, TypeError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "") -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(con.execute(sql).df())
    assert got.shape == want.shape, (
        f"{name}: shape mismatch spark={got.shape} oracle={want.shape}"
    )
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns spark={list(got.columns)} oracle={list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        both_na = pd.isna(g) & pd.isna(w)
        if np.issubdtype(g.dtype, np.floating):
            eq = np.isclose(g, w, rtol=0, atol=1e-9) | both_na
        else:
            eq = (g == w) | both_na
        if not np.all(eq):
            bad = np.where(~eq)[0][:5]
            raise AssertionError(
                f"{name}: column {c!r} differs at rows {bad.tolist()}: "
                f"spark={g[bad].tolist()} oracle={w[bad].tolist()}"
            )
