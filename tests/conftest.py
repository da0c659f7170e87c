"""Shared Spark session + tiny hand-constructed panels, mirroring the
reference's fixture style (tests/conftest.py:5-69 in /root/reference)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from polars_ts_spark.session import free_blocks, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("polars-ts-spark-tests", **{"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(autouse=True, scope="module")
def _drop_persistent_blocks(request):
    """Free the library's materialized blocks after each test module.

    The library holds reused frames only as ``materialize`` checkpoints;
    left to the async ContextCleaner, a full-suite run was measured
    holding 37 persistent RDDs (~170 MB) mid-run — steady heap pressure
    on a memory-tight CI container. Module scope: no test depends on
    another module's materialized state."""
    yield
    from pyspark.sql import SparkSession

    spark_s = (SparkSession.getActiveSession()
               or SparkSession._instantiatedSession)
    if spark_s is None:
        return  # module never started Spark — nothing to free
    free_blocks(spark_s)


PANEL_SCHEMA = T.StructType([
    T.StructField("unique_id", T.StringType()),
    T.StructField("ds", T.TimestampType()),
    T.StructField("y", T.DoubleType()),
])


def make_panel(spark, series: dict[str, list[float | None]], start="2024-01-01", freq_days=1):
    """Build a long panel from {id: [values...]}, daily grid."""
    t0 = dt.datetime.fromisoformat(start)
    rows = [
        (sid, t0 + dt.timedelta(days=i * freq_days), None if v is None else float(v))
        for sid, vals in series.items()
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, PANEL_SCHEMA)


@pytest.fixture
def two_series(spark):
    """ids A,B; 4 points each; values [1,2,3,4] vs [1,2,3,5]
    (reference conftest.py:5-13 — DTW must be exactly 1.0)."""
    return make_panel(spark, {"A": [1, 2, 3, 4], "B": [1, 2, 3, 5]})


@pytest.fixture
def identical_series(spark):
    return make_panel(spark, {"A": [1, 2, 3, 4], "B": [1, 2, 3, 4]})


@pytest.fixture
def shifted_series(spark):
    """Step function vs its 4-step shift (reference conftest.py:38-47)."""
    return make_panel(spark, {"A": [0, 0, 0, 0, 1, 1, 1, 1], "B": [1, 1, 1, 1, 0, 0, 0, 0]})


@pytest.fixture
def single_series(spark):
    return make_panel(spark, {"A": [1, 2, 3, 4]})


@pytest.fixture
def with_nulls(spark):
    return make_panel(spark, {"A": [1.0, None, 3.0, None, None, 6.0], "B": [None, 2.0, 3.0, 4.0, 5.0, None]})


@pytest.fixture
def constant_series(spark):
    return make_panel(spark, {"A": [5.0] * 8})
