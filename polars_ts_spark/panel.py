"""The canonical long-format panel: (unique_id, ds, y).

Mirrors the reference data model (see SURVEY.md §1; reference
``src/utils.rs:29-42``, ``polars_ts/models/_time_utils.py``): every
operator consumes/produces a long DataFrame keyed by a series-id column,
ordered by a time column, with a Float64 target. Column names are
overridable everywhere via ``id_col`` / ``time_col`` / ``target_col``.

Spark-first notes:
- We never globally sort. Order-sensitive ops use
  ``Window.partitionBy(id).orderBy(ds)``; whole-series kernels sort inside
  ``applyInPandas``. A global ``orderBy`` would be a pointless full shuffle
  at 100 TB.
- ``series_window`` returns THE canonical window spec; operators share it
  verbatim so Catalyst reuses one Exchange+Sort across all window exprs in
  a plan instead of re-shuffling per feature.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

ID = "unique_id"
TIME = "ds"
TARGET = "y"


@dataclass(frozen=True)
class PanelCols:
    id: str = ID
    time: str = TIME
    target: str = TARGET


def require_columns(df: DataFrame, *cols: str) -> None:
    """Validate-at-call-time schema regime (reference raises KeyError,
    e.g. polars_ts/changepoint/cusum.py:33-37, src/utils.rs:18-25)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise KeyError(f"missing required columns: {missing}; have {df.columns}")


def series_window(id_col: str = ID, time_col: str = TIME) -> WindowSpec:
    """Canonical per-series, time-ordered window."""
    return Window.partitionBy(id_col).orderBy(time_col)


def series_partition(id_col: str = ID) -> WindowSpec:
    """Whole-series frame (unbounded) — group stats without a groupBy."""
    return Window.partitionBy(id_col)


def canonicalize(
    df: DataFrame,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Rename user columns to canonical names and cast target to double
    (reference casts y -> Float64 on entry, src/utils.rs:32)."""
    require_columns(df, id_col, time_col, target_col)
    out = df
    for src, dst in ((id_col, ID), (time_col, TIME), (target_col, TARGET)):
        if src != dst:
            out = out.withColumnRenamed(src, dst)
    return out.withColumn(TARGET, F.col(TARGET).cast("double"))


def ordered_values(value_cols: str | list[str] = TARGET, time_col: str = TIME) -> Column:
    """One series' values as a time-ordered array, for use in aggs:
    ``df.groupBy(id).agg(ordered_values().alias("vals"))``.

    A column name gives ``array<double>``; a list of names gives
    ``array<array<double>>`` with one ``[v1..vk]`` row per time step.
    Sorting the collected ``(t, v)`` structs is the only way to get an
    order-GUARANTEED array per series in Spark (SURVEY §4.2)."""
    if isinstance(value_cols, str):
        v = f"cast(`{value_cols}` as double)"
    else:
        v = "array(" + ", ".join(f"cast(`{c}` as double)" for c in value_cols) + ")"
    return F.expr(f"transform(array_sort(collect_list(struct(`{time_col}` as t, {v} as v))), s -> s.v)")
