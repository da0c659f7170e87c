"""Exponential-smoothing forecasters: SES / Holt / Holt-Winters + FFT.

Semantics match the reference's numerical cores exactly
(src/ets.rs:13-110 — ses level recursion seeded at y[0]; holt trend
seeded y[1]-y[0] and smoothed from t=1; holt-winters seeded from the
first two seasons with per-phase seasonal states; fft_forecast per
models/baselines.py:181-255 keeps DC + top-k harmonics).

Execution: `applyInPandas` per series (ONE shuffle on unique_id); the
recursions are inherently sequential per series, but series are the
parallel axis — 1M series = 1M independent tasks' worth of work. SES is
additionally expressed in closed form (exponential weights) so it
vectorizes in numpy and is oracle-checkable in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.operators.kernel import for_each_series, for_series_batches
from polars_ts_spark.panel import ID, TARGET, TIME, require_columns

_FC_SCHEMA = "unique_id string, ds timestamp, y_hat double"


def _future_grid(times: pd.Series, h: int) -> pd.DatetimeIndex:
    """last_time + k * median_freq (models/_time_utils.py:15-30)."""
    t = pd.to_datetime(times)
    if len(t) >= 2:
        freq = t.diff().dropna().median()
    else:
        freq = pd.Timedelta(days=1)
    last = t.iloc[-1]
    return pd.DatetimeIndex([last + (k + 1) * freq for k in range(h)])


def ses_level(values: np.ndarray, alpha: float) -> float:
    """Closed-form SES final level: the recursion
    l_t = a*y_t + (1-a)*l_{t-1}, l_0 = y_0 unrolls to
    sum_k a*(1-a)^(n-1-k)*y_k (k>=1) + (1-a)^(n-1)*y_0 — vectorized."""
    n = len(values)
    if n == 1:
        return float(values[0])
    k = np.arange(1, n)
    w = alpha * np.power(1.0 - alpha, n - 1 - k)
    return float(np.dot(w, values[1:]) + (1.0 - alpha) ** (n - 1) * values[0])


def _holt_state(values: np.ndarray, alpha: float, beta: float) -> tuple[float, float]:
    level, trend = values[0], values[1] - values[0]
    for v in values[1:]:
        prev = level
        level = alpha * v + (1.0 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1.0 - beta) * trend
    return level, trend


def _hw_state(values: np.ndarray, alpha: float, beta: float, gamma: float,
              m: int, additive: bool) -> tuple[float, float, np.ndarray]:
    first = values[:m].mean()
    second = values[m:2 * m].mean()
    level, trend = first, (second - first) / m
    if additive:
        seasons = values[:m] - first
    else:
        seasons = values[:m] / first if first != 0.0 else np.ones(m)
    seasons = seasons.astype(float).copy()
    for t in range(m, len(values)):
        v, si = values[t], t % m
        prev = level
        if additive:
            level = alpha * (v - seasons[si]) + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1.0 - beta) * trend
            seasons[si] = gamma * (v - level) + (1.0 - gamma) * seasons[si]
        else:
            ratio = v / seasons[si] if seasons[si] != 0.0 else v
            level = alpha * ratio + (1.0 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1.0 - beta) * trend
            seasons[si] = gamma * (v / level if level != 0.0 else 1.0) + (1.0 - gamma) * seasons[si]
    return level, trend, seasons


def _ets_sse(values: np.ndarray, kind: str, params: np.ndarray, m: int) -> float:
    """One-step-ahead in-sample SSE for an ETS variant (fit criterion
    for auto_ets_series)."""
    y = values
    n = len(y)
    if kind == "ses":
        (alpha,) = params
        level = y[0]
        sse = 0.0
        for t in range(1, n):
            sse += (y[t] - level) ** 2
            level = alpha * y[t] + (1 - alpha) * level
        return sse
    if kind == "holt":
        alpha, beta = params
        level, trend = y[0], y[1] - y[0]
        sse = 0.0
        for t in range(1, n):
            pred = level + trend
            sse += (y[t] - pred) ** 2
            prev = level
            level = alpha * y[t] + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        return sse
    # additive Holt-Winters
    alpha, beta, gamma = params
    first = y[:m].mean()
    second = y[m:2 * m].mean()
    level, trend = first, (second - first) / m
    seasons = (y[:m] - first).astype(float).copy()
    sse = 0.0
    for t in range(m, n):
        si = t % m
        pred = level + trend + seasons[si]
        sse += (y[t] - pred) ** 2
        prev = level
        level = alpha * (y[t] - seasons[si]) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        seasons[si] = gamma * (y[t] - level) + (1 - gamma) * seasons[si]
    return sse


# the engine-replicable smoothing-parameter grid (optimizer="grid"):
# 0.05 .. 0.95 step 0.05, iterated alpha-major then beta then gamma —
# a SQL oracle enumerates the identical candidate stream
ETS_GRID = [j / 20.0 for j in range(1, 20)]


def auto_ets_series(y: np.ndarray, h: int, season_length: int = 0,
                    optimizer: str = "nm") -> np.ndarray:
    """AutoETS-style: optimize the smoothing parameters of each ETS
    variant (SES / Holt / additive HW when seasonal data allows) by
    one-step SSE, select by AIC, forecast from the winner's final
    state (statsforecast AutoETS in spirit; scum.py:15 member).
    ``optimizer="grid"`` swaps the Nelder-Mead search for the fixed
    ETS_GRID sweep (first strict improvement wins ties) — branch-free
    given the data, so the whole selection replays in SQL (the GARCH
    grid-QMLE pattern)."""
    from itertools import product

    from polars_ts_spark.functions.numutils import nelder_mead

    y = np.asarray(y, float)
    n = len(y)
    m = season_length
    cands: list[tuple[str, np.ndarray]] = [("ses", np.array([0.3]))]
    if n >= 4:
        cands.append(("holt", np.array([0.3, 0.1])))
    if m and m > 1 and n >= 2 * m + 3:
        cands.append(("hw", np.array([0.3, 0.1, 0.1])))

    def make_obj(kind, mm):
        def obj(p):
            if np.any(p <= 0.0) or np.any(p >= 1.0):
                return 1e12
            return _ets_sse(y, kind, p, mm)
        return obj

    best = (np.inf, None, None)
    for kind, x0 in cands:
        if optimizer == "grid":
            p, sse = None, np.inf
            for combo in product(ETS_GRID, repeat=len(x0)):
                s = _ets_sse(y, kind, np.asarray(combo), m)
                if s < sse:
                    p, sse = np.asarray(combo), s
        else:
            p, sse = nelder_mead(make_obj(kind, m), x0, max_iter=200)
        k = len(x0) + 1
        aic = n * np.log(max(sse / max(n, 1), 1e-300)) + 2 * k
        if aic < best[0]:
            best = (aic, kind, p)
    _, kind, p = best
    if kind == "ses":
        return np.full(h, ses_level(y, float(p[0])))
    if kind == "holt":
        level, trend = _holt_state(y, float(p[0]), float(p[1]))
        return level + trend * (1 + np.arange(h))
    level, trend, seasons = _hw_state(y, float(p[0]), float(p[1]), float(p[2]), m, True)
    return np.array([
        level + trend * (i + 1) + seasons[(n + i) % m] for i in range(h)
    ])


CES_GRID = [j / 10.0 for j in range(1, 20)]


def ces_series(y: np.ndarray, h: int, optimizer: str = "nm") -> np.ndarray:
    """CES-style complex exponential smoothing (scum.py:15 member;
    Svetunkov & Kourentzes' state-space form): state (l, c) with
    F = [[1, -(1-a1)], [1, 1-a0]], g = (a0-a1, a0+a1), ŷ = l;
    (a0, a1) optimized by one-step SSE."""
    from polars_ts_spark.functions.numutils import nelder_mead

    y = np.asarray(y, float)
    n = len(y)
    if n < 3:
        return np.full(h, y[-1] if n else np.nan)

    def run(a0, a1, horizon=0):
        l_, c_ = y[0], 0.0
        sse = 0.0
        for t in range(1, n):
            e = y[t] - l_
            sse += e * e
            l_new = l_ - (1 - a1) * c_ + (a0 - a1) * e
            c_new = l_ + (1 - a0) * c_ + (a0 + a1) * e
            l_, c_ = l_new, c_new
        fc = np.empty(horizon)
        for i in range(horizon):
            fc[i] = l_
            l_new = l_ - (1 - a1) * c_
            c_new = l_ + (1 - a0) * c_
            l_, c_ = l_new, c_new
        return sse, fc

    def obj(p):
        a0, a1 = p
        if not (0.0 < a0 < 2.0 and 0.0 < a1 < 2.0):
            return 1e12
        sse, _ = run(a0, a1)
        return sse if np.isfinite(sse) else 1e12

    if optimizer == "grid":
        # a0-major sweep over (0.1 .. 1.9 step 0.1)^2; strict-improvement
        # first-win ties — SQL-replayable (see auto_ets_series)
        best = (np.inf, 1.0, 1.0)
        for a0 in CES_GRID:
            for a1 in CES_GRID:
                sse, _ = run(a0, a1)
                if sse < best[0]:
                    best = (sse, a0, a1)
        _, fc = run(best[1], best[2], horizon=h)
        return fc
    p, _ = nelder_mead(obj, np.array([1.0, 1.0]), max_iter=200)
    _, fc = run(float(np.clip(p[0], 1e-6, 2 - 1e-6)),
                float(np.clip(p[1], 1e-6, 2 - 1e-6)), horizon=h)
    return fc


def ses_forecast(df: DataFrame, h: int, alpha: float = 0.3,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET) -> DataFrame:
    """Flat forecast at the final smoothed level (exponential_smoothing.py:113-153).

    Pure Catalyst: the SES recursion unrolls to the closed-form
    geometric-weight sum (see ``ses_level``), which is a window +
    aggregate expression — no Python kernel, whole-stage codegen end to
    end, one shuffle on the series id."""
    require_columns(df, id_col, time_col, target_col)
    from pyspark.sql import Window

    from polars_ts_spark.operators.baselines import (
        _freq_from_diff,
        _future_rows,
        _with_ts_diff,
    )

    w = Window.partitionBy(id_col).orderBy(time_col)
    wn = Window.partitionBy(id_col)
    df = _with_ts_diff(df, id_col, time_col)
    weighted = (
        F.when(
            F.col("__rn") == 1,
            F.pow(F.lit(1.0 - alpha), F.col("__n") - 1) * F.col(target_col),
        ).otherwise(
            F.lit(alpha)
            * F.pow(F.lit(1.0 - alpha), F.col("__n") - F.col("__rn"))
            * F.col(target_col)
        )
    )
    g = (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wn))
        .groupBy(id_col)
        .agg(
            F.sum(weighted).alias("__level"),
            F.max(time_col).alias("__last_ts"),
            _freq_from_diff().alias("__freq_s"),
        )
    )
    return _future_rows(g, h, id_col, time_col).select(
        id_col, time_col, F.col("__level").cast("double").alias("y_hat")
    )


def holt_forecast(df: DataFrame, h: int, alpha: float = 0.3, beta: float = 0.1,
                  id_col: str = ID, time_col: str = TIME, target_col: str = TARGET) -> DataFrame:
    """Level+trend, linear extrapolation (exponential_smoothing.py:156-205)."""
    require_columns(df, id_col, time_col, target_col)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[target_col].to_numpy(dtype=float)
        if len(vals) < 2:
            yhat = np.full(h, vals[0] if len(vals) else np.nan)
        else:
            level, trend = _holt_state(vals, alpha, beta)
            yhat = level + np.arange(1, h + 1) * trend
        grid = _future_grid(pdf[time_col], h)
        return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: grid, "y_hat": yhat})

    return for_each_series(df, kern, _FC_SCHEMA, id_col, time_col)


def holt_winters_forecast(df: DataFrame, h: int, season_length: int,
                          alpha: float = 0.3, beta: float = 0.1, gamma: float = 0.1,
                          seasonal: str = "additive",
                          id_col: str = ID, time_col: str = TIME, target_col: str = TARGET) -> DataFrame:
    """Triple smoothing; requires >= 2*m points per series
    (exponential_smoothing.py:208-276). Series shorter than 2m fall back
    to Holt (reference raises; we degrade gracefully per series and mark
    nothing — the pipeline layer validates). Runs on a bucket of series
    per task, one Arrow batch per bucket; the recursion itself stays per
    series."""
    require_columns(df, id_col, time_col, target_col)
    m, additive = season_length, seasonal == "additive"

    def one(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[target_col].to_numpy(dtype=float)
        n = len(vals)
        grid = _future_grid(pdf[time_col], h)
        if n >= 2 * m:
            level, trend, seasons = _hw_state(vals, alpha, beta, gamma, m, additive)
            steps = np.arange(1, h + 1)
            sidx = (n - 1 + steps) % m
            if additive:
                yhat = level + steps * trend + seasons[sidx]
            else:
                yhat = (level + steps * trend) * seasons[sidx]
        elif n >= 2:
            level, trend = _holt_state(vals, alpha, beta)
            yhat = level + np.arange(1, h + 1) * trend
        else:
            yhat = np.full(h, vals[0] if n else np.nan)
        return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: grid, "y_hat": yhat})

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.concat([one(g) for _, g in pdf.groupby(id_col, sort=False)], ignore_index=True)

    return for_series_batches(df, kern, _FC_SCHEMA, id_col, time_col)


def fft_forecast(df: DataFrame, h: int, n_harmonics: int = 5,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET) -> DataFrame:
    """rFFT of the detrended series, keep DC + top-k harmonics by
    magnitude, extrapolate (models/baselines.py:181-255)."""
    require_columns(df, id_col, time_col, target_col)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf[target_col].to_numpy(dtype=float)
        n = len(vals)
        grid = _future_grid(pdf[time_col], h)
        if n < 4:
            return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: grid,
                                 "y_hat": np.full(h, vals.mean() if n else np.nan)})
        # linear detrend, fft on residual, rebuild at future steps
        t = np.arange(n)
        slope, intercept = np.polyfit(t, vals, 1)
        resid = vals - (slope * t + intercept)
        spec = np.fft.rfft(resid)
        mags = np.abs(spec)
        keep = np.argsort(mags[1:])[::-1][:n_harmonics] + 1  # top-k, excluding DC
        tf = np.arange(n, n + h)
        yhat = slope * tf + intercept + spec[0].real / n
        for k in keep:
            amp, phase = 2.0 * np.abs(spec[k]) / n, np.angle(spec[k])
            yhat = yhat + amp * np.cos(2.0 * np.pi * k * tf / n + phase)
        return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: grid, "y_hat": yhat})

    return for_each_series(df, kern, _FC_SCHEMA, id_col, time_col)
