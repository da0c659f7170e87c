"""Bayesian online changepoint detection and HMM regime detection
(SURVEY §2.15; cusum and PELT live in preprocessing.py / pelt.py).

Reference parity:
- bocpd         -> polars_ts/changepoint/bocpd.py:11-150 (normal-
  inverse-gamma conjugate run-length posterior, constant hazard)
- regime_detect -> polars_ts/changepoint/regime.py:9-158 (Gaussian HMM
  via Baum-Welch EM; outputs regime + regime_prob)

Spark mapping: both are sequential per-series recursions ->
applyInPandas per series (one shuffle), numpy inside. Deterministic:
HMM init is quantile-based (no RNG).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.operators.kernel import for_each_series, for_series_batches
from polars_ts_spark.panel import ID, TARGET, TIME


def bocpd_series(
    y: np.ndarray,
    hazard_rate: float = 250.0,
    mu0: float = 0.0,
    kappa0: float = 1.0,
    alpha0: float = 1.0,
    beta0: float = 1.0,
    threshold: float = 0.5,
):
    """Adams & MacKay BOCPD with NIG conjugate updates
    (bocpd.py:40-120). Returns (cp_prob per step, is_changepoint)."""
    y = np.asarray(y, float)
    n = len(y)
    h = 1.0 / hazard_rate
    # run-length posterior; grows by 1 per step
    R = np.zeros(n + 1)
    R[0] = 1.0
    mu = np.array([mu0])
    kappa = np.array([kappa0])
    alpha = np.array([alpha0])
    beta = np.array([beta0])
    cp_prob = np.empty(n)
    for t in range(n):
        # Student-t predictive for each run length
        df_ = 2 * alpha
        scale2 = beta * (kappa + 1) / (alpha * kappa)
        z2 = (y[t] - mu) ** 2 / scale2
        # log pdf of standardized t with df_ dof
        from polars_ts_spark.functions.numutils import _lgamma

        lg = np.vectorize(_lgamma)
        log_pred = (
            lg((df_ + 1) / 2) - lg(df_ / 2)
            - 0.5 * np.log(np.pi * df_ * scale2)
            - (df_ + 1) / 2 * np.log1p(z2 / df_)
        )
        pred = np.exp(log_pred)
        growth = R[: t + 1] * pred * (1 - h)
        cp = float(np.sum(R[: t + 1] * pred * h))
        R[1 : t + 2] = growth
        R[0] = cp
        total = R[: t + 2].sum() or 1e-300
        R[: t + 2] /= total
        # note R[0] post-update is ALWAYS exactly h (the same predictive
        # multiplies growth and changepoint mass), so the usable signal
        # is the posterior mass on SHORT run lengths: it spikes one step
        # after a shift, when long-run predictives collapse. Gate the
        # first steps where every run length is trivially short.
        cp_prob[t] = float(R[: min(6, t + 2)].sum()) if t > 5 else h
        # NIG updates (prepend prior for r=0)
        mu_new = np.concatenate([[mu0], (kappa * mu + y[t]) / (kappa + 1)])
        kappa_new = np.concatenate([[kappa0], kappa + 1])
        alpha_new = np.concatenate([[alpha0], alpha + 0.5])
        beta_new = np.concatenate([[beta0], beta + kappa * (y[t] - mu) ** 2 / (2 * (kappa + 1))])
        mu, kappa, alpha, beta = mu_new, kappa_new, alpha_new, beta_new
    return cp_prob, cp_prob > threshold


def bocpd(
    df: DataFrame,
    hazard_rate: float = 250.0,
    threshold: float = 0.5,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, ds, y, cp_prob, is_changepoint] per observation."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf[target_col].to_numpy(dtype=float)
        prob, flag = bocpd_series(y, hazard_rate=hazard_rate, threshold=threshold)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                time_col: pdf[time_col],
                target_col: y,
                "cp_prob": prob,
                "is_changepoint": flag,
            }
        )

    schema = (
        f"{id_col} string, {time_col} timestamp, {target_col} double, "
        "cp_prob double, is_changepoint boolean"
    )
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# Gaussian HMM regime detection


def _hmm_fit_batch(ys: list[np.ndarray], n_states: int, n_iter: int,
                   early_stop: bool = True):
    """Baum-Welch for MANY series with ONE shared t-loop: the series
    axis is the SIMD axis (stacked matmul recursions over padded
    arrays). Padding is EXACT for the scaled filter: padded steps get
    B=1, and since A is row-stochastic the scaling constants stay
    c=1 and beta stays 1 through the padded tail — so beta hits its
    true init (=1) at each series' real last step, and masking the
    padded region out of the M-step sums reproduces the per-series
    recursion bit-for-bit. Per-series convergence freezes that series'
    parameters (and its gamma), matching scalar early stopping. Same
    scale trick as pelt_changepoints_batch — the per-timestep Python
    loop was the dominant cost."""
    K = n_states
    S = len(ys)
    ns = np.array([len(y) for y in ys], dtype=np.int64)
    N = int(ns.max())
    Y = np.zeros((S, N))
    for i, y in enumerate(ys):
        Y[i, :len(y)] = y
    valid = np.arange(N)[None, :] < ns[:, None]  # (S, N)
    means = np.stack([np.quantile(np.asarray(y, float), np.linspace(0.1, 0.9, K)) for y in ys])
    var = np.stack([np.full(K, np.var(np.asarray(y, float)) / K + 1e-8) for y in ys])
    A = np.tile(np.full((K, K), 0.1 / max(K - 1, 1)), (S, 1, 1))
    A[:, np.arange(K), np.arange(K)] = 0.9
    pi = np.full((S, K), 1.0 / K)
    gamma = np.zeros((S, N, K))
    active = np.ones(S, dtype=bool)
    for _ in range(n_iter):
        B = np.exp(-0.5 * (Y[:, :, None] - means[:, None, :]) ** 2 / var[:, None, :]) \
            / np.sqrt(2 * np.pi * var[:, None, :])
        B = np.maximum(B, 1e-300)
        B[~valid] = 1.0  # padded steps are transparent to the filter
        alpha = np.empty((S, N, K))
        c = np.empty((S, N))
        alpha[:, 0] = pi * B[:, 0]
        c[:, 0] = alpha[:, 0].sum(axis=1)
        alpha[:, 0] /= c[:, 0, None]
        for t in range(1, N):
            a = (alpha[:, t - 1][:, None, :] @ A)[:, 0, :] * B[:, t]
            s_ = a.sum(axis=1)
            s_[s_ == 0] = 1e-300
            c[:, t] = s_
            alpha[:, t] = a / s_[:, None]
        beta = np.empty((S, N, K))
        beta[:, -1] = 1.0
        for t in range(N - 2, -1, -1):
            beta[:, t] = (A @ (B[:, t + 1] * beta[:, t + 1])[:, :, None])[:, :, 0] \
                / c[:, t + 1, None]
        g = alpha * beta
        g /= np.maximum(g.sum(axis=2, keepdims=True), 1e-300)
        g[~valid] = 0.0  # padded rows out of every M-step sum
        gamma[active] = g[active]
        w = B[:, 1:] * beta[:, 1:] / c[:, 1:, None]
        w[~valid[:, 1:]] = 0.0
        xi_sum = A * (alpha[:, :-1].transpose(0, 2, 1) @ w)
        new_pi = g[:, 0]
        new_A = xi_sum / np.maximum(xi_sum.sum(axis=2, keepdims=True), 1e-300)
        gw = g.sum(axis=1)
        new_means = (g * Y[:, :, None]).sum(axis=1) / np.maximum(gw, 1e-300)
        new_var = (g * (Y[:, :, None] - new_means[:, None, :]) ** 2).sum(axis=1) \
            / np.maximum(gw, 1e-300)
        new_var = np.maximum(new_var, 1e-8)
        delta = np.abs(new_means - means).max(axis=1)
        tol = 1e-8 * (1 + np.abs(means).max(axis=1))
        upd = active.copy()
        pi[upd], A[upd] = new_pi[upd], new_A[upd]
        means[upd], var[upd] = new_means[upd], new_var[upd]
        if early_stop:
            active &= delta >= tol
            if not active.any():
                break
    out = []
    for i in range(S):
        order = np.argsort(means[i])
        remap = np.empty(K, dtype=int)
        remap[order] = np.arange(K)
        gi = gamma[i, :ns[i]]
        out.append((remap[np.argmax(gi, axis=1)], gi.max(axis=1), means[i][order]))
    return out


def regime_detect(
    df: DataFrame,
    n_states: int = 2,
    n_iter: int = 50,
    early_stop: bool = True,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, ds, y, regime, regime_prob]; regimes labeled by ascending
    state mean (regime.py:9-158). Series in a bucket run Baum-Welch
    together (length-grouped SIMD batching)."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pieces = []
        fit_ids, fit_ys, fit_frames = [], [], []
        for sid, g in pdf.groupby(id_col, sort=False):
            y = g[target_col].to_numpy(dtype=float)
            if len(y) < n_states * 3:
                pieces.append(pd.DataFrame({
                    id_col: g[id_col], time_col: g[time_col], target_col: y,
                    "regime": np.zeros(len(y), dtype="int32"),
                    "regime_prob": np.ones(len(y)),
                }))
            else:
                fit_ids.append(sid)
                fit_ys.append(y)
                fit_frames.append(g)
        if fit_ys:
            for g, (states, prob, _m) in zip(fit_frames, _hmm_fit_batch(fit_ys, n_states, n_iter, early_stop)):
                pieces.append(pd.DataFrame({
                    id_col: g[id_col], time_col: g[time_col],
                    target_col: g[target_col].to_numpy(dtype=float),
                    "regime": states.astype("int32"),
                    "regime_prob": prob,
                }))
        if not pieces:
            return pd.DataFrame({id_col: pd.Series([], dtype="str"),
                                 time_col: pd.Series([], dtype="datetime64[us]"),
                                 target_col: pd.Series([], dtype="float64"),
                                 "regime": pd.Series([], dtype="int32"),
                                 "regime_prob": pd.Series([], dtype="float64")})
        return pd.concat(pieces, ignore_index=True)

    schema = (
        f"{id_col} string, {time_col} timestamp, {target_col} double, "
        "regime int, regime_prob double"
    )
    return for_series_batches(df, kern, schema, id_col=id_col, time_col=time_col)
