"""Output comparison, reusing the repo's parity canonicalisation
(``tools/parity.py``: ``normalize``, ``dtype_key``, ``value_hash``)."""

from __future__ import annotations

from decimal import Decimal

import pandas as pd

from tools.parity import dtype_key, normalize, value_hash


def oracle_match(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> bool:
    """The parity gate's rule: same row count, same column names, same
    coarse dtypes and the same order-insensitive value hash."""
    s, o = normalize(spark_df), normalize(oracle_df)
    return (
        len(s) == len(o)
        and list(s.columns) == list(o.columns)
        and [dtype_key(s[c]) for c in s.columns] == [dtype_key(o[c]) for c in o.columns]
        and value_hash(s) == value_hash(o)
    )


def _as_float(df: pd.DataFrame) -> pd.DataFrame:
    """Decimal and integer columns as float64, so an API-path frame
    (decimals, nullable ints) compares with a SQL-oracle frame (doubles)."""
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object and s.map(lambda v: isinstance(v, Decimal)).any():
            df[c] = s.map(lambda v: None if v is None else float(v)).astype("float64")
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("float64")
    return df


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Value equality of two frames up to numeric width and row order."""
    return oracle_match(_as_float(got), _as_float(want))
