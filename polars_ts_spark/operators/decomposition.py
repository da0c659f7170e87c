"""Seasonal decomposition (SURVEY §2.10) — pure window/group expressions.

Reference parity: polars_ts/decomposition/seasonal_decomposition.py:8-105
(classical moving-average decomposition) and
seasonal_decompose_features.py:16-120 (strength features).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_ts_spark.panel import ID, TARGET, TIME, require_columns, series_window


def seasonal_decomposition(
    df: DataFrame,
    freq: int,
    method: str = "additive",
    anomaly_threshold: float | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Classical decomposition (seasonal_decomposition.py:8-105):

    - trend   = centered rolling mean over ``freq`` rows; NULL where the
      centered window holds fewer than ``freq`` rows (polars rolling_mean
      with min_samples=window_size, :66) — those edge rows are dropped at
      the end, matching the reference's ``drop_nulls()`` (:92)
    - detrend = y - trend (additive) or y / trend (multiplicative)
    - seasonal = mean of detrended by phase (row_index mod freq),
      re-centered by subtracting the plain per-series row-mean of the
      phase means (the reference always subtracts, even multiplicative,
      :78)
    - resid = y - trend - seasonal (or y / trend / seasonal)
    - optional ``is_anomaly`` = |resid| > threshold·std(resid) (:97-99)
    """
    require_columns(df, id_col, time_col, target_col)
    if method not in ("additive", "multiplicative"):
        raise ValueError(f"unknown method {method!r}")
    if freq <= 1:
        raise ValueError(f"freq must be > 1, got {freq}")
    w = series_window(id_col, time_col)
    y = F.col(target_col)
    # polars rolling_mean(center=True, window_size=n) covers
    # [i-(n-1)//2, i+n//2] and yields null unless all n rows are present
    wspec = w.rowsBetween(-((freq - 1) // 2), freq // 2)
    trend = F.when(F.count(y).over(wspec) == freq, F.avg(y).over(wspec))
    out = df.withColumn("trend", trend)
    out = out.withColumn(
        "__phase", (F.row_number().over(w) - F.lit(1)) % F.lit(freq)
    )
    detr = (y - F.col("trend")) if method == "additive" else (y / F.col("trend"))
    out = out.withColumn("__detrended", detr)
    phase_w = Window.partitionBy(id_col, "__phase")
    series_w = Window.partitionBy(id_col)
    # avg ignores the edge-null detrended rows, matching polars mean()
    out = out.withColumn("__raw_seasonal", F.avg("__detrended").over(phase_w))
    # re-center by the plain row-mean of the broadcast phase means over the
    # whole series (pre-drop) — the reference's seasonal_idx.mean().over(id)
    seasonal = F.col("__raw_seasonal") - F.avg("__raw_seasonal").over(series_w)
    out = out.withColumn("seasonal", seasonal)
    if method == "additive":
        resid = y - F.col("trend") - F.col("seasonal")
    else:
        resid = y / F.col("trend") / F.col("seasonal")
    out = out.withColumn("resid", resid)
    # reference drop_nulls(): edge rows with null trend (hence null resid)
    out = out.where(F.col("trend").isNotNull() & y.isNotNull())
    if anomaly_threshold is not None:
        rs = F.stddev_samp("resid").over(series_w)
        out = out.withColumn(
            "is_anomaly", F.abs(F.col("resid")) > F.lit(anomaly_threshold) * rs
        )
    return out.drop("__phase", "__detrended", "__raw_seasonal")


def seasonal_decompose_features(
    df: DataFrame,
    freq: int,
    method: str = "additive",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Per-series strength features (seasonal_decompose_features.py:103-137,
    simple mode), computed over the decomposition's surviving (non-edge) rows:

    - trend_strength    = |Var(resid)/Var(trend + resid) - 1|
      (the reference's ``.sub(1).abs().clip(lower_bound=0)``, :104-113)
    - seasonal_strength = |Var(resid)/Var(seasonal + resid) - 1| (:120-129)
    - resid_var         = Std(resid) / Mean(y) (:117)

    All sample (ddof=1) statistics, as polars ``.var()``/``.std()``.
    """
    dec = seasonal_decomposition(df, freq, method, None, id_col, time_col, target_col)
    # try_divide: NULL on zero variance (degenerate series) instead of the
    # ANSI divide-by-zero error; DuckDB division yields the same NULL
    return dec.groupBy(id_col).agg(
        F.abs(
            F.try_divide(F.var_samp("resid"), F.var_samp(F.col("trend") + F.col("resid"))) - F.lit(1.0)
        ).alias("trend_strength"),
        F.abs(
            F.try_divide(F.var_samp("resid"), F.var_samp(F.col("seasonal") + F.col("resid"))) - F.lit(1.0)
        ).alias("seasonal_strength"),
        F.try_divide(F.stddev_samp("resid"), F.avg(target_col)).alias("resid_var"),
    )


def fourier_decomposition(
    df: DataFrame,
    period: float = 7.0,
    n_harmonics: int = 3,
    trend_window: int | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Fourier-OLS decomposition (decomposition/fourier_decomposition.py:12-180):
    trend = centered moving average; seasonal = per-series least-squares
    fit of sin/cos harmonics of the within-series index on the detrended
    values; residual = remainder. Output adds trend/seasonal/residual.

    The per-series OLS runs in applyInPandas (the reference delegates to
    polars-ds lstsq); the design matrix is (n x 2K), normal equations
    solved exactly per series."""
    import numpy as np
    import pandas as pd

    from polars_ts_spark.operators.kernel import for_each_series

    w = trend_window or int(period)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        n = len(y)
        trend = pd.Series(y).rolling(w, min_periods=1, center=True).mean().to_numpy()
        detr = y - trend
        t = np.arange(n, dtype=float)
        cols = []
        for k in range(1, n_harmonics + 1):
            ang = 2.0 * np.pi * k * t / period
            cols.append(np.sin(ang))
            cols.append(np.cos(ang))
        X = np.column_stack(cols) if cols else np.zeros((n, 0))
        if X.shape[1] and n > X.shape[1]:
            beta, *_ = np.linalg.lstsq(X, detr, rcond=None)
            seasonal = X @ beta
        else:
            seasonal = np.zeros(n)
        return pd.DataFrame({
            id_col: pdf[id_col], time_col: pdf[time_col], target_col: y,
            "trend": trend, "seasonal": seasonal, "residual": y - trend - seasonal,
        })

    schema = (
        f"{id_col} string, {time_col} timestamp, {target_col} double, "
        "trend double, seasonal double, residual double"
    )
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)
