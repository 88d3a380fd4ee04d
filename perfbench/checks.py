"""Output checks: canonical digests and the DuckDB oracle comparison.

``canon`` is the canonical form ``scripts/driver_replica.py`` hashes: sorted
column names, every cell rendered as text (floats with 9 significant
digits, integral floats as integers, NULL/NaN as ``N``), rows sorted.
``digest`` is a sha256 over that form, so an exact digest match is the
driver-replica equality.

``oracle_compare`` is the comparison behind ``expected.json``: ``record.py``
runs the query on Spark and its registered DuckDB oracle over the same
parquet files, and this matches the two results row by row.  Every cell
must be equal, with one known engine split admitted: ``ROUND(x, d)`` of a
double that sits on a half-way tie (Spark rounds the decimal expansion,
DuckDB the binary value).  The caller names the columns that round, with
their ``d``; in those columns only, two values that both print at most
``d`` decimals and differ by exactly one unit of the ``d``-th decimal count
as a split.  Every split is counted and recorded next to the digest, so it
stays visible.
"""

from __future__ import annotations

import hashlib
import math
from decimal import Decimal

import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "N"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{int(v)}"
        return f"{v:.9g}"
    return str(v)


def canon(df: pd.DataFrame) -> tuple[list[str], list[tuple[str, ...]]]:
    cols = sorted(df.columns)
    rows = sorted(tuple(_cell(x) for x in r) for r in df[cols].itertuples(index=False))
    return cols, rows


def digest(df: pd.DataFrame) -> str:
    cols, rows = canon(df)
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return h.hexdigest()


def _one_unit_apart(x: float, y: float, d: int) -> bool:
    """Both values print at most ``d`` decimals and differ by one unit of the
    ``d``-th."""
    unit = Decimal(1).scaleb(-d)
    a, b = Decimal(repr(float(x))), Decimal(repr(float(y)))
    return a == a.quantize(unit) and b == b.quantize(unit) and abs(a - b) == unit


def oracle_compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame,
                   round_columns: dict[str, int] | None = None) -> tuple[bool, int]:
    """(matches, rounding_splits) - see the module docstring.
    ``round_columns`` maps a column to the ``d`` of its ``ROUND(x, d)``."""
    round_columns = round_columns or {}
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return False, 0
    if len(spark_df) != len(oracle_df):
        return False, 0
    if canon(spark_df) == canon(oracle_df):
        return True, 0
    cols = sorted(spark_df.columns)
    keys = [c for c in cols if c not in round_columns] + [c for c in cols if c in round_columns]
    a = spark_df[keys].sort_values(keys, kind="mergesort").reset_index(drop=True)
    b = oracle_df[keys].sort_values(keys, kind="mergesort").reset_index(drop=True)
    splits = 0
    for c in keys:
        for x, y in zip(a[c], b[c]):
            if _cell(x) == _cell(y):
                continue
            if c not in round_columns or not isinstance(x, float) or not isinstance(y, float) \
                    or math.isnan(x) or math.isnan(y) or not _one_unit_apart(x, y, round_columns[c]):
                return False, 0
            splits += 1
    return True, splits
