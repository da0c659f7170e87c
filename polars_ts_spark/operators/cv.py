"""Cross-validation splitters (SURVEY §2.14).

Reference parity: polars_ts/validation/splits.py (expanding 10-56,
sliding 59-105, rolling_origin 108-232).

Design: the distinct sorted timestamps are small (thousands) even at
100 TB — collect them once, then yield *lazy* filtered DataFrames; each
fold's filter is pushed down to the parquet scan by Catalyst, so a fold
never materializes more than its own time range.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.panel import TIME, require_columns


def _distinct_times(df: DataFrame, time_col: str) -> list:
    return [r[0] for r in df.select(time_col).distinct().orderBy(time_col).collect()]


def rolling_origin_cv(
    df: DataFrame,
    h: int,
    n_splits: int = 3,
    step: int | None = None,
    gap: int = 0,
    min_train_size: int | None = None,
    fixed_train_size: bool = False,
    time_col: str = TIME,
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """General rolling-origin splitter (splits.py:108-232). Yields
    (train, test) lazy DataFrame pairs; ``fixed_train_size`` toggles
    sliding vs expanding. Offsets are in *distinct timestamp* units,
    matching the reference's index-on-unique-timestamps semantics."""
    require_columns(df, time_col)
    times = _distinct_times(df, time_col)
    n = len(times)
    step = step or h
    min_train = min_train_size if min_train_size is not None else max(1, n - gap - h - (n_splits - 1) * step)
    for i in range(n_splits):
        train_end_idx = min_train + i * step  # exclusive
        test_start_idx = train_end_idx + gap
        test_end_idx = test_start_idx + h
        if test_end_idx > n:
            break
        train_start_idx = max(0, train_end_idx - min_train) if fixed_train_size else 0
        t_lo, t_hi = times[train_start_idx], times[train_end_idx - 1]
        s_lo, s_hi = times[test_start_idx], times[test_end_idx - 1]
        train = df.filter((F.col(time_col) >= F.lit(t_lo)) & (F.col(time_col) <= F.lit(t_hi)))
        test = df.filter((F.col(time_col) >= F.lit(s_lo)) & (F.col(time_col) <= F.lit(s_hi)))
        yield train, test


def expanding_window_cv(df: DataFrame, h: int, n_splits: int = 3, step: int | None = None,
                        gap: int = 0, time_col: str = TIME):
    """Growing train window (splits.py:10-56)."""
    return rolling_origin_cv(df, h, n_splits, step, gap, None, False, time_col)


def sliding_window_cv(df: DataFrame, h: int, train_size: int, n_splits: int = 3,
                      step: int | None = None, gap: int = 0, time_col: str = TIME):
    """Fixed-size train window (splits.py:59-105)."""
    return rolling_origin_cv(df, h, n_splits, step, gap, train_size, True, time_col)
