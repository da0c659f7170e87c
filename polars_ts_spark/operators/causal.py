"""Causal inference (SURVEY §2.17): CausalImpact-style counterfactual
and synthetic control.

Reference parity:
- CausalImpact / causal_impact       -> polars_ts/causal/causal_impact.py:112-449
  (BSTS counterfactual; ours uses the local-level/trend Kalman
  smoother from operators/statespace.py as the structural model)
- SyntheticControl / synthetic_control -> polars_ts/causal/synthetic_control.py:100-540
  (constrained donor weights: w >= 0, sum w = 1, projected gradient)

Both are single-treated-series analyses -> driver numpy (the
reference's shape); donors arrive as a panel DataFrame.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.operators.statespace import KalmanFilter
from polars_ts_spark.panel import ID, TARGET, TIME
from polars_ts_spark.session import DRIVER_VALUES_CAP, collect_capped


def _simplex_project(v: np.ndarray) -> np.ndarray:
    """Euclidean projection onto the probability simplex."""
    u = np.sort(v)[::-1]
    css = np.cumsum(u) - 1
    rho = np.nonzero(u * np.arange(1, len(v) + 1) > css)[0][-1]
    theta = css[rho] / (rho + 1.0)
    return np.maximum(v - theta, 0.0)


def synthetic_control_weights(
    treated_pre: np.ndarray, donors_pre: np.ndarray, n_iter: int = 2000, lr: float | None = None
) -> np.ndarray:
    """argmin_w ||y - X w||² s.t. w >= 0, sum w = 1 (projected
    gradient; synthetic_control.py:200-300)."""
    y = np.asarray(treated_pre, float)
    X = np.asarray(donors_pre, float)  # (T_pre, n_donors)
    n = X.shape[1]
    w = np.full(n, 1.0 / n)
    # Frobenius bound on the Lipschitz constant (>= spectral-norm^2,
    # so 1/L is still a descent step); unlike an SVD it is a plain
    # sum of squares, which the DuckDB oracle recomputes exactly
    L = float((X ** 2).sum()) or 1.0
    lr = lr or 1.0 / L
    for _ in range(n_iter):
        grad = X.T @ (X @ w - y)
        w = _simplex_project(w - lr * grad)
    return w


def synthetic_control(
    panel: DataFrame,
    treated_id: str,
    intervention_time,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> pd.DataFrame:
    """Counterfactual for `treated_id` from donor pool = all other
    series. Returns [ds, actual, counterfactual, effect, period].

    The donor matrix (n_series × T) is driver-side BY DESIGN (the
    projected-gradient weight solve is the reference's shape,
    synthetic_control.py:200-300) — so the collect is capped and
    refuses with guidance (pre-select a donor pool). The 100 TB route
    is the sufficient-statistics form (grad = X'X·w − X'y over the pre
    period, two aggregations), which changes the float trajectory and
    is therefore not the oracle-gated default."""
    # each collected row (id string, timestamp, double) costs about
    # four double-widths of driver memory
    pdf = collect_capped(
        panel.select(id_col, time_col, target_col), DRIVER_VALUES_CAP // 4,
        "synthetic_control",
        "The donor-weight solve is driver-side by design; pre-select a "
        "donor pool (filter the panel to candidate donors) or downsample "
        "the pre-period before calling.")
    pdf[time_col] = pd.to_datetime(pdf[time_col])
    wide = pdf.pivot_table(index=time_col, columns=id_col, values=target_col).sort_index()
    wide = wide.dropna()
    donors = [c for c in wide.columns if str(c) != str(treated_id)]
    t0 = pd.to_datetime(intervention_time)
    pre = wide.index < t0
    w = synthetic_control_weights(
        wide.loc[pre, treated_id].to_numpy(),
        wide.loc[pre, donors].to_numpy(),
    )
    cf = wide[donors].to_numpy() @ w
    return pd.DataFrame({
        "ds": wide.index,
        "actual": wide[treated_id].to_numpy(),
        "counterfactual": cf,
        "effect": wide[treated_id].to_numpy() - cf,
        "period": np.where(pre, "pre", "post"),
    })


def causal_impact(
    df: DataFrame,
    intervention_time,
    model: str = "local_trend",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> pd.DataFrame:
    """Structural counterfactual (causal_impact.py:112-250): fit the
    state-space model on the PRE period only, forecast the post
    period, report pointwise + cumulative effects. Single series (or
    first series of the panel)."""
    # single-series analysis: pick the first series IN SPARK and collect
    # only its rows — collecting the whole panel to use one series is
    # the scale-latent pattern the fit layer just shed. min() on the
    # NATIVE column keeps the old sorted(unique)[0] choice for numeric
    # and string ids alike (a string cast would reorder numeric ids:
    # min("10","2") = "10").
    sid = df.agg(F.min(F.col(id_col))).first()[0]
    s = (
        df.filter(F.col(id_col) == F.lit(sid))
        .select(id_col, time_col, target_col)
        .toPandas()
    )
    s[time_col] = pd.to_datetime(s[time_col])
    s = s.sort_values(time_col)
    t0 = pd.to_datetime(intervention_time)
    pre = s[s[time_col] < t0]
    post = s[s[time_col] >= t0]
    y_pre = pre[target_col].to_numpy(dtype=float)
    kf = (
        KalmanFilter.local_level(q=0.05, r=max(np.var(np.diff(y_pre)), 1e-6))
        if model == "local_level"
        else KalmanFilter.local_trend(q_level=0.05, q_trend=0.005,
                                      r=max(np.var(np.diff(y_pre)), 1e-6))
    )
    fc = kf.forecast(y_pre, len(post))
    effect = post[target_col].to_numpy(dtype=float) - fc
    out = pd.DataFrame({
        "ds": post[time_col].to_numpy(),
        "actual": post[target_col].to_numpy(),
        "counterfactual": fc,
        "effect": effect,
        "cum_effect": np.cumsum(effect),
    })
    out.attrs["avg_effect"] = float(effect.mean())
    out.attrs["cum_effect_total"] = float(effect.sum())
    return out


def placebo_test(
    df: DataFrame,
    intervention_time,
    placebo_time,
    model: str = "local_trend",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> pd.DataFrame:
    """Placebo significance check for ``causal_impact``
    (causal_impact_reporting.py:116-167): re-run the counterfactual
    pretending ``placebo_time`` (strictly before the real intervention)
    was the intervention, using ONLY pre-intervention data — post-real
    rows are excluded so the genuine effect cannot contaminate the
    null. A well-specified model shows near-zero placebo effect.
    Returns the placebo effect frame (same columns as causal_impact);
    ``attrs['avg_effect']`` / ``attrs['cum_effect_total']`` carry the
    summary."""
    t_real = pd.to_datetime(intervention_time)
    t_placebo = pd.to_datetime(placebo_time)
    if not t_placebo < t_real:
        raise ValueError("placebo_time must be strictly before the intervention")
    pre_only = df.filter(F.col(time_col) < F.lit(t_real))
    return causal_impact(pre_only, t_placebo, model=model,
                         id_col=id_col, time_col=time_col, target_col=target_col)
