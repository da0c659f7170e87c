"""State-space / Bayesian filtering kernels (SURVEY §2.17):
Kalman filter + RTS smoother, Unscented KF, particle filter, and the
panel-level ``kalman_filter`` / ``kalman_forecast`` operators running
one stacked recursion per bucket of series under ``applyInPandas``.

Reference parity:
- KalmanFilter / rts smoother / loglik -> polars_ts/bayesian/kalman.py:54-265
- UnscentedKalmanFilter              -> polars_ts/bayesian/ukf.py:58
- ParticleFilter                     -> polars_ts/bayesian/particle_filter.py:149-360
- kalman_filter (panel op)           -> polars_ts/bayesian/kalman.py (module API)

Spark mapping: filters are O(n) sequential recursions per series.
The panel operators hash series into buckets (``for_series_batches``:
one shuffle, numpy inside the worker); each bucket packs its series
into a NaN-padded (series, time) stack and ``KalmanFilter`` steps the
whole stack at once, so each time step is one numpy call sequence over
every series in the bucket rather than one per series. Filter state is
(x, P) per step; the operators emit the filtered/smoothed estimates as
columns so downstream plans stay relational.

Scale: series are independent -> embarrassingly parallel across
buckets; state never leaves the task. Matrix dims are tiny (local
level/trend models), so the Python/numpy dispatch per step, not the
arithmetic, is the cost: a bucket pays it once per time step of its
longest series instead of once per time step of every series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.functions.numutils import hash_normals, hash_unit
from polars_ts_spark.operators.kernel import for_series_batches
from polars_ts_spark.panel import ID, TARGET, TIME

# ---------------------------------------------------------------------------
# linear-Gaussian Kalman filter (driver-usable numpy core)


class KalmanFilter:
    """Linear-Gaussian state space:
    x_t = F x_{t-1} + w,  w ~ N(0, Q);  y_t = H x_t + v,  v ~ N(0, R).
    filter() -> (means, covs, loglik); smooth() -> RTS smoothed means.
    """

    def __init__(self, F, H, Q, R, x0, P0):
        self.F = np.atleast_2d(np.asarray(F, float))
        self.H = np.atleast_2d(np.asarray(H, float))
        self.Q = np.atleast_2d(np.asarray(Q, float))
        self.R = np.atleast_2d(np.asarray(R, float))
        self.x0 = np.atleast_1d(np.asarray(x0, float))
        self.P0 = np.atleast_2d(np.asarray(P0, float))

    @classmethod
    def local_level(cls, q: float = 0.01, r: float = 1.0) -> "KalmanFilter":
        return cls([[1.0]], [[1.0]], [[q]], [[r]], [0.0], [[1e6]])

    @classmethod
    def local_trend(cls, q_level: float = 0.01, q_trend: float = 0.001, r: float = 1.0) -> "KalmanFilter":
        return cls(
            [[1.0, 1.0], [0.0, 1.0]],
            [[1.0, 0.0]],
            [[q_level, 0.0], [0.0, q_trend]],
            [[r]],
            [0.0, 0.0],
            [[1e6, 0.0], [0.0, 1e6]],
        )

    def filter(self, y: np.ndarray):
        """One series ``(n,)`` -> ``(means (n, k), covs (n, k, k), loglik)``;
        a NaN-padded ``(series, n)`` stack -> the same with a leading series
        axis and one loglik per row. A NaN step predicts without updating,
        so a row's padded tail never touches its observed prefix, and every
        row comes out bit-identical to filtering that series alone: each
        numpy call of the recursion runs the same per-row kernel on every
        row of the stack."""
        y = np.asarray(y, float)
        xs, Ps, ll = self._filter(np.atleast_2d(y))
        return (xs, Ps, ll) if y.ndim == 2 else (xs[0], Ps[0], float(ll[0]))

    def _filter(self, Y: np.ndarray):
        b, n = Y.shape
        k = len(self.x0)
        xs = np.empty((b, n, k))
        Ps = np.empty((b, n, k, k))
        x = np.tile(self.x0[:, None], (b, 1, 1))  # column states (b, k, 1)
        P = np.tile(self.P0, (b, 1, 1))
        ll = np.zeros(b)
        eye = np.eye(k)
        for t in range(n):
            # predict
            x = self.F @ x
            P = self.F @ P @ self.F.T + self.Q
            # update every row, keep it only where y is observed
            S = self.H @ P @ self.H.T + self.R
            K = P @ self.H.T @ np.linalg.inv(S)
            innov = Y[:, t] - (self.H @ x)[:, 0, 0]
            s = S[:, 0, 0]
            obs = ~np.isnan(Y[:, t])
            x = np.where(obs[:, None, None], x + K * innov[:, None, None], x)
            P = np.where(obs[:, None, None], (eye - K @ self.H) @ P, P)
            ll = np.where(obs, ll + -0.5 * (np.log(2 * np.pi * s) + innov * innov / s), ll)
            xs[:, t] = x[:, :, 0]
            Ps[:, t] = P
        return xs, Ps, ll

    def smooth(self, y: np.ndarray):
        """RTS smoother (kalman.py:150-200) over one series or a NaN-padded
        stack, shaped as ``filter``. On a padded tail the filter only
        predicts, so the smoother's residual there is exactly zero and each
        row's prefix is smoothed as if alone."""
        y = np.asarray(y, float)
        xs, Ps, ll = self._filter(np.atleast_2d(y))
        xs_s = xs.copy()
        Ps_s = Ps.copy()
        for t in range(xs.shape[1] - 2, -1, -1):
            P_pred = self.F @ Ps[:, t] @ self.F.T + self.Q
            C = Ps[:, t] @ self.F.T @ np.linalg.inv(P_pred)
            resid = xs_s[:, t + 1, :, None] - self.F @ xs[:, t, :, None]
            xs_s[:, t] = xs[:, t] + (C @ resid)[:, :, 0]
            Ps_s[:, t] = Ps[:, t] + C @ (Ps_s[:, t + 1] - P_pred) @ C.swapaxes(1, 2)
        return (xs_s, Ps_s, ll) if y.ndim == 2 else (xs_s[0], Ps_s[0], float(ll[0]))

    def forecast(self, y: np.ndarray, h: int) -> np.ndarray:
        """Mean forecast of the h steps after the last column of ``y``:
        ``(h,)`` for one series, ``(series, h)`` for a stack. Those steps
        are the filter run over h more missing values, so a ragged stack
        padded with h extra NaN columns already holds each row's forecast
        right after that row's own length (``kalman_forecast`` reads it
        there)."""
        y = np.asarray(y, float)
        ahead = np.full(y.shape[:-1] + (h,), np.nan)
        xs = self.filter(np.concatenate([y, ahead], axis=-1))[0]
        return (self.H @ xs[..., y.shape[-1]:, :, None])[..., 0, 0]


class UnscentedKalmanFilter:
    """UKF for nonlinear f/h (ukf.py:58): sigma points with standard
    (alpha, beta, kappa) weights; additive noise."""

    def __init__(self, f, h, Q, R, x0, P0, alpha=1e-3, beta=2.0, kappa=0.0):
        self.f, self.h = f, h
        self.Q = np.atleast_2d(np.asarray(Q, float))
        self.R = np.atleast_2d(np.asarray(R, float))
        self.x0 = np.atleast_1d(np.asarray(x0, float))
        self.P0 = np.atleast_2d(np.asarray(P0, float))
        n = len(self.x0)
        lam = alpha * alpha * (n + kappa) - n
        self._gamma = np.sqrt(n + lam)
        self.Wm = np.full(2 * n + 1, 1.0 / (2 * (n + lam)))
        self.Wc = self.Wm.copy()
        self.Wm[0] = lam / (n + lam)
        self.Wc[0] = lam / (n + lam) + (1 - alpha * alpha + beta)

    def _sigma(self, x, P):
        n = len(x)
        S = np.linalg.cholesky((P + P.T) / 2 + 1e-12 * np.eye(n))
        pts = [x]
        for i in range(n):
            pts.append(x + self._gamma * S[:, i])
        for i in range(n):
            pts.append(x - self._gamma * S[:, i])
        return np.asarray(pts)

    @staticmethod
    def _wsum(w: np.ndarray, rows: np.ndarray) -> np.ndarray:
        """Sequential left-fold weighted sum over sigma points.

        ``w @ rows`` delegates to BLAS, whose reduction ASSOCIATION
        depends on the library version and CPU dispatch (SIMD partial
        sums) — the DuckDB oracle replays the literal left-to-right
        fold, so a BLAS that pairs terms differently forks the filter
        trajectory by an ulp per step and ~40 accumulated ulps put
        5% of rounded outputs on a knife edge (a BLAS build change has
        flipped `ukf_filter` parity this way). An explicit fold pins
        the order the oracle replays; same math, deterministic across
        BLAS builds."""
        acc = w[0] * rows[0]
        for i in range(1, len(w)):
            acc = acc + w[i] * rows[i]
        return acc

    def filter(self, y: np.ndarray):
        y = np.asarray(y, float)
        x, P = self.x0.copy(), self.P0.copy()
        n_obs = len(y)
        k = len(x)
        xs = np.empty((n_obs, k))
        for t in range(n_obs):
            pts = self._sigma(x, P)
            fp = np.asarray([self.f(p) for p in pts])
            x_pred = self._wsum(self.Wm, fp)
            P_pred = self.Q + sum(
                self.Wc[i] * np.outer(fp[i] - x_pred, fp[i] - x_pred) for i in range(len(pts))
            )
            hp = np.asarray([np.atleast_1d(self.h(p)) for p in fp])
            y_pred = self._wsum(self.Wm, hp)
            S = self.R + sum(
                self.Wc[i] * np.outer(hp[i] - y_pred, hp[i] - y_pred) for i in range(len(pts))
            )
            C = sum(
                self.Wc[i] * np.outer(fp[i] - x_pred, hp[i] - y_pred) for i in range(len(pts))
            )
            K = C @ np.linalg.inv(S)
            x = x_pred + K @ (np.atleast_1d(y[t]) - y_pred)
            P = P_pred - K @ S @ K.T
            xs[t] = x
        return xs, P


class _HashRng:
    """Minimal Generator look-alike backed by md5 Box–Muller streams
    (numutils.hash_normals): every draw is a pure function of
    (seed, call-index), so a SQL oracle regenerates the identical
    sequence. Only the surface the particle filter needs."""

    def __init__(self, seed: int):
        self.seed = seed
        self._n = 0
        self._u = 0

    def normal(self, loc=0.0, scale=1.0, size=None):
        z = hash_normals(self.seed, f"n:{self._n}", int(size))
        self._n += 1
        return loc + scale * z

    def random(self):
        u = hash_unit(f"{self.seed}:u:{self._u}:a")
        self._u += 1
        return u


class ParticleFilter:
    """Bootstrap SMC (particle_filter.py:149-360) with systematic
    resampling; deterministic via md5-hash draw streams (_HashRng) and
    sequential-fold reductions, both replayed verbatim by the DuckDB
    oracle (the resampling index map is a pure comparison count over a
    bit-identical cumulative weight vector)."""

    def __init__(self, transition, likelihood, n_particles=500, seed=42):
        self.transition = transition  # (particles, rng) -> particles
        self.likelihood = likelihood  # (particles, y) -> weights
        self.n = n_particles
        self.seed = seed

    def filter(self, y: np.ndarray, init):
        rng = _HashRng(self.seed)
        y = np.asarray(y, float)
        parts = init(self.n, rng)
        means = np.empty(len(y))
        for t in range(len(y)):
            parts = self.transition(parts, rng)
            w = self.likelihood(parts, y[t])
            w = np.maximum(w, 1e-300)
            s = 0.0
            for x in w:
                s += float(x)
            w = w / s
            acc = 0.0
            for i in range(self.n):
                acc += float(w[i]) * float(parts[i])
            means[t] = acc
            # systematic resampling
            positions = (rng.random() + np.arange(self.n)) / self.n
            cumw = np.cumsum(w)
            parts = parts[np.searchsorted(cumw, positions)]
        return means


# ---------------------------------------------------------------------------
# panel operators


def _panel_model(model: str, q: float, r: float) -> KalmanFilter:
    if model == "local_level":
        return KalmanFilter.local_level(q, r)
    if model == "local_trend":
        return KalmanFilter.local_trend(q, q / 10.0, r)
    raise ValueError(f"model must be 'local_level' or 'local_trend', got {model!r}")


def _stack(ids: pd.Series, y: np.ndarray, extra: int = 0):
    """Pack a bucket's (id, time)-sorted rows into a NaN-padded
    (series, time) stack with ``extra`` more NaN columns; also returns
    each row's (series, step) cell, which scatters results back."""
    v = ids.to_numpy()
    starts = np.flatnonzero(np.r_[True, v[1:] != v[:-1]])
    lens = np.diff(np.r_[starts, len(v)])
    row = np.repeat(np.arange(len(lens)), lens)
    step = np.arange(len(v)) - np.repeat(starts, lens)
    Y = np.full((len(lens), lens.max() + extra), np.nan)
    Y[row, step] = y
    return Y, row, step


def kalman_filter(
    df: DataFrame,
    model: str = "local_level",
    q: float = 0.01,
    r: float = 1.0,
    smooth: bool = False,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Per-series Kalman filtered (or RTS-smoothed) level:
    [id, ds, y, y_kalman]. model: local_level | local_trend. Each bucket
    of series runs one stacked recursion."""
    kf = _panel_model(model, q, r)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf[target_col].to_numpy(dtype=float)
        Y, row, step = _stack(pdf[id_col], y)
        xs = (kf.smooth(Y) if smooth else kf.filter(Y))[0]
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                time_col: pdf[time_col],
                target_col: y,
                "y_kalman": xs[row, step, 0],
            }
        )

    schema = f"{id_col} string, {time_col} timestamp, {target_col} double, y_kalman double"
    return for_series_batches(df, kern, schema, id_col=id_col, time_col=time_col)


def kalman_forecast(
    df: DataFrame,
    h: int = 7,
    model: str = "local_trend",
    q: float = 0.01,
    r: float = 1.0,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """h-step state-space forecast per series -> [id, ds, y_hat]
    (streaming/kalman.py predict surface, batch form). Each bucket runs
    one filter over its stack padded with h NaN columns; a series'
    forecast is the predicted level in the h cells after its own end."""
    kf = _panel_model(model, q, r)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, row, step = _stack(pdf[id_col], pdf[target_col].to_numpy(dtype=float), extra=h)
        lens = np.bincount(row)
        xs = kf.filter(Y)[0]
        y_hat = xs[np.arange(len(lens))[:, None], lens[:, None] + np.arange(h), 0]
        ts = pdf[time_col].to_numpy()
        fut = []
        for end, n in zip(np.cumsum(lens), lens):
            s = ts[end - n:end]
            freq = np.median(np.diff(s)) if n > 1 else np.timedelta64(1, "D")
            fut.extend(s[-1] + (i + 1) * freq for i in range(h))
        ids = pdf[id_col].to_numpy()[step == 0]
        return pd.DataFrame({id_col: np.repeat(ids, h), time_col: fut, "y_hat": y_hat.ravel()})

    schema = f"{id_col} string, {time_col} timestamp, y_hat double"
    return for_series_batches(df, kern, schema, id_col=id_col, time_col=time_col)
