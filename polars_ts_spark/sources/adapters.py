"""Panel-format adapters out (SURVEY §2.1): convert the canonical
[unique_id, ds, y] panel to the layouts downstream ecosystems expect.

Reference parity:
- to_neuralforecast       -> polars_ts/adapters/neuralforecast.py:8-34
- to_pytorch_forecasting  -> polars_ts/adapters/pytorch_forecasting.py:10-45
- to_huggingface          -> polars_ts/adapters/huggingface.py:10

Not perf-critical (the reference collects to pandas; so do we) — the
conversion is a rename/regroup, the heavy lifting stays upstream in
Spark."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.panel import ID, TARGET, TIME, ordered_values


def to_neuralforecast(
    df: DataFrame, id_col: str = ID, time_col: str = TIME, target_col: str = TARGET
) -> pd.DataFrame:
    """neuralforecast expects pandas [unique_id, ds, y] exactly."""
    return (
        df.select(
            F.col(id_col).cast("string").alias("unique_id"),
            F.col(time_col).alias("ds"),
            F.col(target_col).cast("double").alias("y"),
        )
        .orderBy("unique_id", "ds")
        .toPandas()
    )


def to_pytorch_forecasting(
    df: DataFrame, id_col: str = ID, time_col: str = TIME, target_col: str = TARGET
) -> pd.DataFrame:
    """pytorch-forecasting expects an integer ``time_idx`` per group +
    categorical group column."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(time_col)
    return (
        df.select(
            F.col(id_col).cast("string").alias("group_id"),
            F.col(time_col).alias("ds"),
            (F.row_number().over(w) - 1).alias("time_idx"),
            F.col(target_col).cast("double").alias("target"),
        )
        .orderBy("group_id", "time_idx")
        .toPandas()
    )


def to_huggingface(
    df: DataFrame, id_col: str = ID, time_col: str = TIME, target_col: str = TARGET
) -> list[dict]:
    """HF time-series datasets use one record per series:
    {'id', 'start', 'target': [..]}."""
    rows = (
        df.groupBy(F.col(id_col).cast("string").alias("id"))
        .agg(
            F.min(time_col).alias("start"),
            ordered_values(target_col, time_col).alias("target"),
        )
        .orderBy("id")
        .collect()
    )
    return [
        {"id": r["id"], "start": str(r["start"]), "target": list(r["target"])} for r in rows
    ]
