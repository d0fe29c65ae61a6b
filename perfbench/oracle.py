"""DuckDB oracle comparison for registry queries: same row count, same
column names, exact values (rows sorted by every column, columns by
name) — the engine's oracle contract."""

from __future__ import annotations

import math
import os

import pandas as pd


def duck_connection(tables_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        path = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` (both normalized), else why."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g):
            for i, (a, b) in enumerate(zip(g, w)):
                if not ((pd.isna(a) and pd.isna(b)) or a == b or (math.isinf(a) and a == b)):
                    return f"{c}[{i}]: {a!r} != {b!r}"
        else:
            bad = g.fillna("__NULL__") != w.fillna("__NULL__")
            if bad.any():
                i = int(bad.to_numpy().nonzero()[0][0])
                return f"{c}[{i}]: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None
