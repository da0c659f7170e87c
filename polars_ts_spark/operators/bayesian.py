"""Bayesian forecasting kernels (SURVEY §2.17): Gaussian-process
regression with a composable kernel algebra, Metropolis-Hastings MCMC
forecasting, Bayesian ETS, BSTS-lite, and the Ensemble Kalman filter.

Reference parity:
- GaussianProcessTS / gp_forecast -> polars_ts/bayesian/gp.py:31-539
  (RBF/Matern32/Matern52/Periodic + Sum/Product kernel algebra)
- MCMCForecaster / mcmc_forecast  -> polars_ts/bayesian/mcmc.py:45-270
- bayesian_ets / BayesianETS      -> polars_ts/models/bayesian_ets/model.py:29-191
- BSTS (level/trend/seasonal)     -> polars_ts/bayesian/bsts.py:28-356
  (ours: collapsed Kalman-smoother structural fit, not full Gibbs)
- EnsembleKalmanFilter            -> polars_ts/bayesian/enkf.py:21

Spark mapping: all per-series kernels under applyInPandas; GP is
O(n³) per series which caps n per series, exactly as in the reference.
All randomness from explicit seeded Generators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.functions.numutils import hash_normals, hash_unit
from polars_ts_spark.operators.kernel import for_each_series
from polars_ts_spark.operators.statespace import KalmanFilter
from polars_ts_spark.panel import ID, TARGET, TIME

# ---------------------------------------------------------------------------
# GP kernel algebra (gp.py:31-180)


class Kernel:
    def __call__(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        raise NotImplementedError

    def __add__(self, other: "Kernel") -> "Kernel":
        return _Sum(self, other)

    def __mul__(self, other: "Kernel") -> "Kernel":
        return _Product(self, other)


class _Sum(Kernel):
    def __init__(self, k1, k2):
        self.k1, self.k2 = k1, k2

    def __call__(self, a, b):
        return self.k1(a, b) + self.k2(a, b)


class _Product(Kernel):
    def __init__(self, k1, k2):
        self.k1, self.k2 = k1, k2

    def __call__(self, a, b):
        return self.k1(a, b) * self.k2(a, b)


class RBF(Kernel):
    def __init__(self, length_scale: float = 10.0, variance: float = 1.0):
        self.l, self.v = length_scale, variance

    def __call__(self, a, b):
        d2 = (a[:, None] - b[None, :]) ** 2
        return self.v * np.exp(-0.5 * d2 / self.l ** 2)


class Matern32(Kernel):
    def __init__(self, length_scale: float = 10.0, variance: float = 1.0):
        self.l, self.v = length_scale, variance

    def __call__(self, a, b):
        d = np.abs(a[:, None] - b[None, :]) / self.l
        s3 = np.sqrt(3.0)
        return self.v * (1 + s3 * d) * np.exp(-s3 * d)


class Matern52(Kernel):
    def __init__(self, length_scale: float = 10.0, variance: float = 1.0):
        self.l, self.v = length_scale, variance

    def __call__(self, a, b):
        d = np.abs(a[:, None] - b[None, :]) / self.l
        s5 = np.sqrt(5.0)
        return self.v * (1 + s5 * d + 5.0 * d * d / 3.0) * np.exp(-s5 * d)


class Periodic(Kernel):
    def __init__(self, period: float = 7.0, length_scale: float = 1.0, variance: float = 1.0):
        self.p, self.l, self.v = period, length_scale, variance

    def __call__(self, a, b):
        d = np.abs(a[:, None] - b[None, :])
        return self.v * np.exp(-2.0 * np.sin(np.pi * d / self.p) ** 2 / self.l ** 2)


class GaussianProcessTS:
    """GP regression on the time index (gp.py:200-380): posterior mean
    and variance at future points; noise term on the diagonal."""

    def __init__(self, kernel: Kernel | None = None, noise: float = 1e-2):
        self.kernel = kernel or (RBF(10.0) + Periodic(7.0, 1.0, 0.5))
        self.noise = noise

    def fit(self, t: np.ndarray, y: np.ndarray) -> "GaussianProcessTS":
        self.t = np.asarray(t, float)
        self.y_mean = float(np.mean(y))
        self.y = np.asarray(y, float) - self.y_mean
        K = self.kernel(self.t, self.t) + self.noise * np.eye(len(self.t))
        self.L = np.linalg.cholesky(K + 1e-10 * np.eye(len(self.t)))
        self.alpha = np.linalg.solve(self.L.T, np.linalg.solve(self.L, self.y))
        return self

    def predict(self, t_new: np.ndarray, return_std: bool = False):
        t_new = np.asarray(t_new, float)
        Ks = self.kernel(self.t, t_new)
        mu = Ks.T @ self.alpha + self.y_mean
        if not return_std:
            return mu
        v = np.linalg.solve(self.L, Ks)
        Kss = self.kernel(t_new, t_new)
        var = np.maximum(np.diag(Kss) - (v * v).sum(axis=0), 1e-12)
        return mu, np.sqrt(var)


def gp_forecast(
    df: DataFrame,
    h: int = 7,
    kernel: Kernel | None = None,
    noise: float = 1e-2,
    max_points: int = 500,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Per-series GP forecast [id, ds, y_hat, y_std]; series tails are
    capped at max_points (O(n³) solve per series)."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col).tail(max_points)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        t = np.arange(len(y), dtype=float)
        gp = GaussianProcessTS(kernel, noise).fit(t, y)
        mu, sd = gp.predict(len(y) + np.arange(h, dtype=float), return_std=True)
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({
            id_col: pdf[id_col].iloc[0], time_col: fut, "y_hat": mu, "y_std": sd,
        })

    schema = f"{id_col} string, {time_col} timestamp, y_hat double, y_std double"
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# Metropolis-Hastings MCMC forecaster (mcmc.py:45-270)


def mcmc_forecast_series(
    y: np.ndarray,
    h: int,
    n_samples: int = 2000,
    burn: int = 500,
    seed: int = 42,
):
    """Linear-trend + Gaussian-noise model; MH over (intercept, slope,
    log_sigma). Returns (mean, lower, upper) forecast arrays (10/90).

    Engine-replicable randomness and arithmetic: proposals / accept
    uniforms / observation noise come from md5 streams tagged by the
    iteration index (numutils.hash_normals), the Gaussian RSS is
    evaluated from six sequentially-folded sufficient statistics, so
    the DuckDB oracle replays the chain draw-for-draw. The only
    branch, the MH accept test, compares log(u) against an O(1)-spread
    statistic — a cross-engine ulp flip needs a ~1e-12 coincidence."""
    import math

    y = np.asarray(y, float)
    n = len(y)
    Sy = Sty = Syy = 0.0
    for tt in range(n):
        v = float(y[tt])
        Sy += v
        Sty += v * tt
        Syy += v * v
    St = float(n * (n - 1) // 2)
    Stt = float((n - 1) * n * (2 * n - 1) // 6)

    def loglik(a, b, ls):
        sigma = math.exp(ls)
        rss = (Syy + a * a * n + b * b * Stt + 2.0 * a * b * St
               - 2.0 * a * Sy - 2.0 * b * Sty)
        return -0.5 * rss / (sigma * sigma) - n * ls

    std = math.sqrt(max((Syy - Sy * Sy / n) / n, 0.0)) or 1.0
    a_, b_, ls_ = Sy / n, 0.0, math.log(std)
    ll = loglik(a_, b_, ls_)
    sc = (std / 10 + 1e-6, std / (10 * n) + 1e-9, 0.1)
    samples = []
    for i in range(1, n_samples + 1):
        z = hash_normals(seed, f"n:{i}", 3)
        pa, pb, pls = a_ + float(z[0]) * sc[0], b_ + float(z[1]) * sc[1], ls_ + float(z[2]) * sc[2]
        ll_p = loglik(pa, pb, pls)
        u = hash_unit(f"{seed}:u:{i}:a")
        if math.log(u) < ll_p - ll:
            a_, b_, ls_, ll = pa, pb, pls, ll_p
        if i > burn:
            ze = hash_normals(seed, f"e:{i}", h)
            samples.append([a_ + b_ * (n + j) + math.exp(ls_) * float(ze[j])
                            for j in range(h)])
    draws = np.asarray(samples)
    lo = np.empty(h)
    hi = np.empty(h)
    for j in range(h):
        col = np.sort(draws[:, j])
        m = len(col)
        for q, out in ((0.1, lo), (0.9, hi)):
            pos = q * (m - 1)
            i0 = int(np.floor(pos))
            gfr = pos - i0
            d = col[min(i0 + 1, m - 1)] - col[i0]
            # numpy _lerp switches form at t >= 0.5 — replicate exactly
            out[j] = (col[min(i0 + 1, m - 1)] - d * (1.0 - gfr)) if gfr >= 0.5 \
                else (col[i0] + d * gfr)
    return draws.mean(axis=0), lo, hi


def mcmc_forecast(
    df: DataFrame, h: int = 7, n_samples: int = 1500, seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        mu, lo, hi = mcmc_forecast_series(y, h, n_samples=n_samples, seed=seed)
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({
            id_col: pdf[id_col].iloc[0], time_col: fut,
            "y_hat": mu, "y_hat_lower": lo, "y_hat_upper": hi,
        })

    schema = (
        f"{id_col} string, {time_col} timestamp, y_hat double, "
        "y_hat_lower double, y_hat_upper double"
    )
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# Bayesian ETS (models/bayesian_ets/model.py:29-191): MH over (alpha,
# beta) of a Holt model, forecast = posterior-mean path


def bayesian_ets_series(y: np.ndarray, h: int, n_samples: int = 1000, seed: int = 42):
    """MH over Holt (alpha, beta) with md5-stream draws and plain-float
    sequential recursions — the DuckDB oracle replays the chain (the
    Holt SSE is a struct fold there) and the numpy-_lerp quantiles."""
    import math

    y = np.asarray(y, float)

    def holt(a: float, b: float):
        level, trend = float(y[0]), 0.0
        s = 0.0
        for v in y[1:]:
            v = float(v)
            pred = level + trend
            d = v - pred
            s += d * d
            prev = level
            level = a * v + (1 - a) * pred
            trend = b * (level - prev) + (1 - b) * trend
        return level, trend, s

    def sse(a: float, b: float) -> float:
        if not (0 < a < 1 and 0 <= b < 1):
            return np.inf
        return holt(a, b)[2]

    ta, tb = 0.3, 0.1
    cur = sse(ta, tb)
    n = len(y)
    samples = []
    for i in range(1, n_samples + 1):
        z = hash_normals(seed, f"n:{i}", 2)
        pa, pb = ta + 0.05 * float(z[0]), tb + 0.05 * float(z[1])
        s_p = sse(pa, pb)
        u = hash_unit(f"{seed}:u:{i}:a")
        # Gaussian likelihood with sigma^2 profile: p ∝ sse^(-n/2)
        if s_p < np.inf and math.log(u) < -0.5 * n * (math.log(s_p) - math.log(cur)):
            ta, tb, cur = pa, pb, s_p
        if i > n_samples // 3:
            samples.append((ta, tb))
    step = max(1, len(samples) // 100)
    fcs = []
    for a, b in samples[::step]:
        level, trend, _ = holt(a, b)
        fcs.append([level + trend * k for k in range(1, h + 1)])
    F_ = np.asarray(fcs)
    lo = np.empty(h)
    hi = np.empty(h)
    for j in range(h):
        col = np.sort(F_[:, j])
        m = len(col)
        for q, out in ((0.1, lo), (0.9, hi)):
            pos = q * (m - 1)
            i0 = int(np.floor(pos))
            gfr = pos - i0
            i1 = min(i0 + 1, m - 1)
            d = col[i1] - col[i0]
            out[j] = (col[i1] - d * (1.0 - gfr)) if gfr >= 0.5 else (col[i0] + d * gfr)
    return F_.mean(axis=0), lo, hi


def bayesian_ets(
    df: DataFrame, h: int = 7, n_samples: int = 800, seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        mu, lo, hi = bayesian_ets_series(y, h, n_samples, seed)
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({
            id_col: pdf[id_col].iloc[0], time_col: fut,
            "y_hat": mu, "y_hat_lower": lo, "y_hat_upper": hi,
        })

    schema = (
        f"{id_col} string, {time_col} timestamp, y_hat double, "
        "y_hat_lower double, y_hat_upper double"
    )
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# BSTS-lite: structural (level+trend+weekly-seasonal) via the Kalman
# smoother — the collapsed-Gibbs shortcut (bsts.py:28-356 surface)


def bsts_forecast(
    df: DataFrame, h: int = 7, season_length: int = 7,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    """Local-trend + seasonal structural forecast: seasonal component
    estimated by phase means of the detrended series, trend by the
    Kalman local-trend smoother on the deseasonalized series."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        n = len(y)
        phase = np.arange(n) % season_length
        trend0 = pd.Series(y).rolling(season_length, min_periods=1, center=True).mean().to_numpy()
        seas = np.array([
            (y - trend0)[phase == p].mean() if (phase == p).any() else 0.0
            for p in range(season_length)
        ])
        seas = seas - seas.mean()
        deseason = y - seas[phase]
        kf = KalmanFilter.local_trend(q_level=0.1, q_trend=0.01,
                                      r=max(np.var(np.diff(deseason)), 1e-6))
        fc_trend = kf.forecast(deseason, h)
        fut_phase = (n + np.arange(h)) % season_length
        fc = fc_trend + seas[fut_phase]
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: fut, "y_hat": fc})

    schema = f"{id_col} string, {time_col} timestamp, y_hat double"
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# Ensemble Kalman filter (enkf.py:21)


class EnsembleKalmanFilter:
    """EnKF with perturbed observations; linear observation H=I on the
    first state component. Perturbations come from md5 Box–Muller draws
    (numutils.hash_normals) rather than a PCG64 stream: the update has
    no branches, so the DuckDB oracle replaying the same draws tracks
    the trajectory to within accumulated ulps."""

    def __init__(self, f, q: float = 0.01, r: float = 1.0, n_ens: int = 100, seed: int = 42):
        self.f, self.q, self.r, self.n_ens, self.seed = f, q, r, n_ens, seed

    def filter(self, y: np.ndarray, x0: float = 0.0) -> np.ndarray:
        sq, sr = np.sqrt(self.q), np.sqrt(self.r)
        n = self.n_ens
        ens = x0 + hash_normals(self.seed, "i", n)
        out = np.empty(len(y))
        for t, yt in enumerate(np.asarray(y, float)):
            ens = (np.array([self.f(x) for x in ens])
                   + sq * hash_normals(self.seed, f"p:{t}", n))
            # sequential folds + sum-of-squares variance: the exact
            # float recipe the DuckDB oracle's list_sum left folds
            # reproduce (numpy's pairwise mean/var would not)
            s1 = s2 = 0.0
            for e in ens:
                s1 += float(e)
                s2 += float(e) * float(e)
            P = (s2 - s1 * s1 / n) / n + 1e-12
            K = P / (P + self.r)
            obs = yt + sr * hash_normals(self.seed, f"o:{t}", n)
            ens = ens + K * (obs - ens)
            s = 0.0
            for e in ens:
                s += float(e)
            out[t] = s / n
        return out
