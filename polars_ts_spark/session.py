"""SparkSession factory tuned for the panel/time-series workload.

Scale notes (100 TB / 1000-executor target):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: every pandas-UDF kernel ships columnar batches, not rows.
- ``spark.sql.shuffle.partitions`` is a local-mode default; on a real
  cluster AQE + ``spark.sql.adaptive.coalescePartitions`` resizes it.
"""

from __future__ import annotations

import gc
import os

from pyspark.sql import SparkSession

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


def free_blocks(spark: SparkSession) -> None:
    """Drop every cached and checkpointed block in the session.

    ``clearCache()`` does not release localCheckpoint blocks; those
    otherwise wait on Python GC and Spark's asynchronous ContextCleaner.
    Unpersists every persistent RDD, so call it only between queries,
    when nothing still holds one."""
    spark.catalog.clearCache()
    gc.collect()
    # py4j wraps the java Map as a dict-like JavaMap
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)
