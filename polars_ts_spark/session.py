"""SparkSession factory tuned for the panel/time-series workload.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: every pandas-UDF kernel ships columnar batches, not rows.
- ``spark.sql.shuffle.partitions`` is a local-mode default; on a real
  cluster AQE + ``spark.sql.adaptive.coalescePartitions`` resizes it.
"""

from __future__ import annotations

import os
import threading

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # generous Arrow batches: per-series kernels want whole series per batch
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.sql.session.timeZone": "UTC",
    # panel tables are parquet; keep vectorized reader + pushdown on (defaults,
    # pinned here so a misconfigured environment can't silently disable them)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # driver testdata writes TIMESTAMP(NANOS) parquet, which Spark cannot
    # read natively — surface as bigint nanos; sources convert to micros
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "polars-ts-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) the session. local[N] in tests; conf overridable."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**_DEFAULTS, **extra_conf}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# (application id, RDD id) of every checkpoint materialize() took and
# free_blocks() has not yet released. Ids, not py4j handles, so a block
# nobody frees stays reclaimable by Spark's ContextCleaner. Driver
# threads may materialize concurrently.
_owned: set[tuple[str, int]] = set()
_owned_lock = threading.Lock()


def materialize(df: DataFrame, *aggs: Column) -> DataFrame | tuple[DataFrame, Row]:
    """Compute ``df`` once into executor blocks so several consumers
    read the result instead of each re-running its lineage. This is the
    library's one way to hold a frame that is read more than once.

    With ``aggs`` (aggregate columns, each aliased), the same job also
    computes them over every row it writes and the call returns
    ``(frame, row)``: a scalar the caller needs about the frame (a row
    count, a convergence flag, start statistics) costs no second job.

    An eager ``localCheckpoint``: the blocks are stored WITHOUT
    replication and the lineage that could recompute them is cut, so
    losing an executor (dynamic allocation, preemption) fails the query
    instead of recomputing. That is safe in local mode and on static
    clusters; a deployment with executor churn would swap this body for
    ``persist(MEMORY_AND_DISK)`` plus a reliable ``checkpoint()``.
    Values are unchanged: only where the bytes are read from moves.
    The blocks are held until ``release`` or ``free_blocks``."""
    obs = Observation()
    out = (df.observe(obs, *aggs) if aggs else df).localCheckpoint(eager=True)
    key = (df.sparkSession.sparkContext.applicationId,
           out._jdf.queryExecution().logical().rdd().id())
    with _owned_lock:
        _owned.add(key)
    return (out, Row(**obs.get)) if aggs else out


def release(df: DataFrame) -> None:
    """Free the blocks of one frame ``materialize`` returned, now. For a
    function whose checkpoint nothing reads once it returns: the blocks
    do not wait for the next ``free_blocks``, which then skips them."""
    jrdd = df._jdf.queryExecution().logical().rdd()
    with _owned_lock:
        _owned.discard((df.sparkSession.sparkContext.applicationId, jrdd.id()))
    jrdd.unpersist(False)


# Driver-side stages (centroid refinement, the synthetic-control and
# ridge solves, sklearn-protocol fits, EnbPI's residual multiset) run
# on the driver by design, because n_series is the small axis. Past this
# many values (256 MB of float64) the honest move is to refuse with
# guidance, not to spill or OOM; each gate divides it by the values per
# collected row.
DRIVER_VALUES_CAP = 32_000_000


def collect_capped(df: DataFrame, max_rows: int, op: str, hint: str) -> pd.DataFrame:
    """``df`` as pandas, or a ``ValueError`` naming ``op`` and ending
    with ``hint`` if it has more than ``max_rows`` rows.

    ``limit(max_rows + 1)`` bounds what reaches the driver, so the gate
    runs no sizing job and needs no persist."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"{op}: more than {max_rows} rows, over the driver-collect cap. {hint}")
    return pdf


def free_blocks(spark: SparkSession) -> None:
    """Release every checkpoint ``materialize`` took in this session
    and still holds. Nothing else is touched: a frame the caller cached
    or persisted survives. Call it between queries, when no frame still
    reads a materialized block."""
    app = spark.sparkContext.applicationId
    with _owned_lock:
        ids = [rdd_id for owner, rdd_id in _owned if owner == app]
        _owned.clear()
    # py4j wraps the java Map as a dict-like JavaMap
    live = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in ids:
        jrdd = live.get(rdd_id)
        if jrdd is not None:
            jrdd.unpersist(False)
