"""Uniform per-series kernel runner (SURVEY §7 Phase 2).

``for_each_series`` is the one bridge from DataFrame-land to
whole-series numpy kernels: groupBy(id).applyInPandas with the group
sorted by time before the kernel sees it (Spark guarantees no intra-group
order; the reference relies on a prior global sort — we sort inside the
worker instead, SURVEY §4.2).

Scale notes: one shuffle on unique_id; each series must fit in one
executor task (panel series are bounded); Arrow batches both directions.

Worker preamble: each task of these stages runs in a reused Python
worker. The function a stage ships is a module-level entry of this
module (``_run_series``, ``_run_batch``) bound with
``functools.partial``, which cloudpickle pickles by reference, so
unpickling it imports this package in the worker even when the kernel
was defined in a user's ``__main__``. That import installs the
zip-invalidation gate (``polars_ts_spark/_worker.py``): the worker's
later tasks stop re-reading the unchanged ``pyspark.zip``.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_ts_spark.panel import require_columns


def _spark_hash_int(v: int) -> int:
    """Spark's ``Murmur3_x86_32.hashInt(v, 42)``: the hash its shuffle
    hash partitioning applies to an int key."""
    mask = 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & mask

    k1 = rotl(v * 0xCC9E2D51 & mask, 15) * 0x1B873593 & mask
    h1 = (rotl(42 ^ k1, 13) * 5 + 0xE6546B64) & mask
    h1 ^= 4
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & mask
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >> 31 else h1


def _partition_labels(n_parts: int) -> list[int]:
    """Int keys k_0..k_{n-1} such that ``repartition(n_parts, key)``
    sends k_p to partition p. Hash-partitioning a bucket or cell index
    itself would stack several on some tasks and leave others idle."""
    labels: dict[int, int] = {}
    v = 0
    while len(labels) < n_parts:
        labels.setdefault(_spark_hash_int(v) % n_parts, v)
        v += 1
    return [labels[p] for p in range(n_parts)]


# The stage entries carry no annotations: applyInPandas infers a UDF
# type from a function's annotations and cannot read them off a partial.
def _run_series(kernel, time_col, pdf):
    return kernel(pdf.sort_values(time_col, kind="mergesort").reset_index(drop=True))


def _run_batch(kernel, id_col, time_col, pdf):
    pdf = pdf.drop(columns="__bucket")
    return kernel(pdf.sort_values([id_col, time_col], kind="mergesort").reset_index(drop=True))


def for_each_series(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    id_col: str,
    time_col: str,
) -> DataFrame:
    """Apply ``kernel(pdf) -> pdf`` to each series, time-sorted."""
    require_columns(df, id_col, time_col)
    # Explicit repartition by key: AQE coalesces the (byte-small) group
    # shuffle to a handful of partitions, which strangles the
    # CPU-heavy Python kernel stage (measured 8 tasks on a 32-core
    # box). A user-specified repartition is exempt from AQE coalescing
    # and the following groupBy reuses the distribution — same single
    # shuffle, full task parallelism.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return df.repartition(n_parts, id_col).groupBy(id_col).applyInPandas(
        functools.partial(_run_series, kernel, time_col), schema=schema)


def for_series_batches(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType | str,
    id_col: str,
    time_col: str,
) -> DataFrame:
    """Apply ``kernel(pdf) -> pdf`` to a BATCH of whole series at once.

    Series are hashed into one bucket per shuffle partition, and each
    bucket runs as its own task: the bucket index maps to a key that
    Spark's hash partitioning sends to that bucket's partition
    (``_partition_labels``), so no task runs two buckets while another
    runs none. The kernel receives every row of each series in its
    bucket, sorted by (id, time). This is the SIMD-batching bridge:
    kernels that run a per-timestep recursion stack it across the
    batch's series axis instead of looping series-by-series, amortizing
    Python/numpy dispatch over the whole bucket — the same trick
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
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    labels = F.array(*[F.lit(v) for v in _partition_labels(n_parts)])
    bucketed = df.withColumn(
        "__bucket", labels[F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_parts)).cast("int")]
    )
    return (
        bucketed.repartition(n_parts, "__bucket")
        .groupBy("__bucket")
        .applyInPandas(functools.partial(_run_batch, kernel, id_col, time_col), schema=schema)
    )
