"""Output checks, run outside the timed region.

Every check returns a list of failure messages (empty means passed);
each message counts once toward the run's `failed` total.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _cell(v):
    """Engine-neutral value: numpy scalars unwrapped, null/NaN unified,
    floats rounded to 9 significant digits so last-ulp drift between
    engines does not change the hash."""
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return float(f"{v:.9g}")
    if isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    return str(v)


def result_digest(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result, with columns
    taken in name order so column order does not matter either."""
    cols = sorted(df.columns, key=lambda c: str(c).lower())
    rows = sorted(
        (repr(tuple(_cell(v) for v in r)) for r in df[cols].itertuples(index=False)),
    )
    h = hashlib.sha256()
    h.update(repr([str(c).lower() for c in cols]).encode())
    for r in rows:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def compare_to_oracle(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    s_rows, s_hash = result_digest(spark_df)
    o_rows, o_hash = result_digest(oracle_df)
    if s_rows != o_rows:
        return [f"{name}: {s_rows} rows, oracle has {o_rows}"]
    if s_hash != o_hash:
        return [f"{name}: result differs from its oracle ({s_rows} rows)"]
    return []


def duck_connection(sf_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
