"""Uniform per-series kernel runner (SURVEY §7 Phase 2).

``for_each_series`` is the one bridge from DataFrame-land to
whole-series numpy kernels: groupBy(id).applyInPandas with the group
sorted by time before the kernel sees it (Spark guarantees no intra-group
order; the reference relies on a prior global sort — we sort inside the
worker instead, SURVEY §4.2).

Scale notes: one shuffle on unique_id; each series must fit in one
executor task (panel series are bounded); Arrow batches both directions.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_ts_spark.panel import require_columns


def for_each_series(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    id_col: str,
    time_col: str,
) -> DataFrame:
    """Apply ``kernel(pdf) -> pdf`` to each series, time-sorted."""
    require_columns(df, id_col, time_col)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf.sort_values(time_col, kind="mergesort").reset_index(drop=True))

    # Explicit repartition by key: AQE coalesces the (byte-small) group
    # shuffle to a handful of partitions, which strangles the
    # CPU-heavy Python kernel stage (measured 8 tasks on a 32-core
    # box). A user-specified repartition is exempt from AQE coalescing
    # and the following groupBy reuses the distribution — same single
    # shuffle, full task parallelism.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n_parts, id_col).groupBy(id_col).applyInPandas(run, schema=schema)


def for_series_batches(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    id_col: str,
    time_col: str,
) -> DataFrame:
    """Apply ``kernel(pdf) -> pdf`` to a BATCH of whole series at once.

    Series are hashed into one bucket per shuffle partition; the kernel
    receives every row of each series in its bucket, sorted by
    (id, time). This is the SIMD-batching bridge: kernels that run a
    per-timestep recursion stack it across the batch's series axis
    instead of looping series-by-series, amortizing Python/numpy
    dispatch over the whole bucket — the same trick
    ``functions/dist_kernels.py`` plays for pair batches. Stacked
    recursions: ``pelt``, ``regime_detect``, ``kalman_filter`` and
    ``kalman_forecast`` (one ``KalmanFilter`` step per time step of a
    NaN-padded stack); ``batch_embed`` and the deep ``batch_forecast``
    kernels batch a model call per bucket; ``holt_winters_forecast``
    keeps its per-series recursion and gains one Arrow batch per
    bucket instead of one per series.

    Same scale properties as ``for_each_series``: one shuffle keyed by
    id-hash, explicit repartition so AQE's coalescing can't strangle the
    CPU-heavy Python stage, Arrow both directions.
    """
    require_columns(df, id_col, time_col)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns="__bucket")
        return kernel(pdf.sort_values([id_col, time_col], kind="mergesort").reset_index(drop=True))

    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    bucketed = df.withColumn(
        "__bucket", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts))
    )
    return (
        bucketed.repartition(n_parts, "__bucket")
        .groupBy("__bucket")
        .applyInPandas(run, schema=schema)
    )
