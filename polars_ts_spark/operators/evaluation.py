"""Backtesting, ensembles, conformal intervals, reconciliation and the
remaining evaluation metrics (SURVEY §2.13/2.14/2.17).

Reference parity:
- backtest / compare_models -> polars_ts/backtesting/backtest.py:126-387
- WeightedEnsemble          -> polars_ts/ensemble/weighted.py:48-165
- StackingForecaster        -> polars_ts/ensemble/stacking.py:16-128
- conformal_interval        -> polars_ts/probabilistic/conformal.py:21-130
- reconcile                 -> polars_ts/reconciliation.py:41-590
- pit_histogram / reliability_diagram -> polars_ts/calibration.py:60-150
- permutation_importance    -> polars_ts/importance.py:11-90

Spark notes: folds are time-filters over the SAME lazy panel (no data
copies); each fold's fit/predict is already distributed, so fold
parallelism is job-level (the reference burns processes per fold,
backtest.py:207-227 — we don't need to). Conformal quantiles use EXACT
percentile (not approx) to keep the finite-sample guarantee
(SURVEY §4.2). Reconciliation maps the summing matrix to a broadcast
edges join + groupBy — no driver matmul needed for bottom_up/top_down.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_ts_spark.functions.numutils import hash_u32
from polars_ts_spark.operators.metrics import calibration_table
from polars_ts_spark.panel import ID, TARGET, TIME
from polars_ts_spark.session import DRIVER_VALUES_CAP, collect_capped, materialize, release

# ---------------------------------------------------------------------------
# backtesting


def backtest(
    df: DataFrame,
    model_fn: Callable[[DataFrame, int], DataFrame],
    horizon: int = 7,
    n_folds: int = 3,
    step: int | None = None,
    metrics: Sequence[str] = ("mae", "rmse"),
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Rolling-origin backtest (backtest.py:126-298).

    ``model_fn(train_df, h) -> forecast_df [id, ds, y_hat]``. Folds cut
    on the distinct sorted timestamps (collected — timestamps are the
    small dimension). Returns (fold_scores, summary)."""
    if n_folds < 1:
        raise ValueError(f"backtest needs n_folds >= 1, got {n_folds}")
    times = [r[0] for r in df.select(time_col).distinct().orderBy(time_col).collect()]
    if len(times) < horizon * (n_folds + 1):
        raise ValueError("not enough timestamps for the requested folds")
    step = step or horizon

    def run_fold(fold: int) -> dict:
        cut_idx = len(times) - horizon - (n_folds - 1 - fold) * step
        cut = times[cut_idx - 1]
        test_end = times[min(cut_idx + horizon - 1, len(times) - 1)]
        train = df.filter(F.col(time_col) <= F.lit(cut))
        test = df.filter((F.col(time_col) > F.lit(cut)) & (F.col(time_col) <= F.lit(test_end)))
        preds = model_fn(train, horizon)
        joined = test.select(id_col, time_col, target_col).join(
            preds, [id_col, time_col], "inner"
        )
        agg = {}
        if "mae" in metrics:
            agg["mae"] = F.mean(F.abs(F.col(target_col) - F.col("y_hat")))
        if "rmse" in metrics:
            agg["rmse"] = F.sqrt(F.mean(F.pow(F.col(target_col) - F.col("y_hat"), 2)))
        if "smape" in metrics:
            agg["smape"] = F.mean(
                2 * F.abs(F.col(target_col) - F.col("y_hat"))
                / (F.abs(F.col(target_col)) + F.abs(F.col("y_hat")))
            )
        row = joined.agg(*[v.alias(k) for k, v in agg.items()]).collect()[0].asDict()
        row["fold"] = fold
        return row

    # folds are independent Spark jobs — submit them from a thread pool
    # so the scheduler interleaves their stages instead of running
    # n_folds sequential barriers (the reference burns a process per
    # fold, backtest.py:207-227; job-level concurrency is the Spark
    # equivalent). model_fn must build a fresh model per call — every
    # registered caller does.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max(1, min(n_folds, 8))) as pool:
        fold_rows = list(pool.map(run_fold, range(n_folds)))
    folds = pd.DataFrame(fold_rows)
    summary = folds.drop(columns="fold").agg(["mean", "std"]).T.reset_index()
    summary.columns = ["metric", "mean", "std"]
    return folds, summary


def compare_models(
    df: DataFrame,
    models: dict[str, Callable[[DataFrame, int], DataFrame]],
    horizon: int = 7,
    n_folds: int = 3,
    metrics: Sequence[str] = ("mae", "rmse"),
    **kw,
) -> pd.DataFrame:
    """Backtest each named model, tagged comparison table
    (backtest.py:301-387)."""
    rows = []
    for name, fn in models.items():
        _, summary = backtest(df, fn, horizon, n_folds, metrics=metrics, **kw)
        for _, r in summary.iterrows():
            rows.append({"model": name, "metric": r["metric"], "mean": r["mean"], "std": r["std"]})
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# ensembles


def weighted_ensemble(
    forecasts: dict[str, DataFrame],
    weights: dict[str, float] | None = None,
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """Weighted average of forecast frames on [id, ds]
    (ensemble/weighted.py:48-165). Equal weights by default.
    Reference parity (weighted.py:103-105): refuses an empty dict and
    a single forecast — averaging one model is a silent no-op that
    hides a wiring bug upstream."""
    if not forecasts:
        raise ValueError("forecasts must be a non-empty dict")
    if len(forecasts) < 2:
        raise ValueError("Need at least 2 forecasts to ensemble")
    names = list(forecasts)
    w = weights or {n: 1.0 / len(names) for n in names}
    total = sum(w.values())
    out = None
    for n in names:
        f = forecasts[n].select(
            id_col, time_col, (F.col("y_hat") * (w[n] / total)).alias(f"__w_{n}")
        )
        out = f if out is None else out.join(f, [id_col, time_col], "inner")
    return out.select(
        id_col, time_col,
        sum(F.col(f"__w_{n}") for n in names).alias("y_hat"),
    )


class StackingForecaster:
    """Meta-learner (ridge) on base-model backtest predictions
    (ensemble/stacking.py:16-128): base models forecast a held-out
    window; the meta weights are fit on (base preds -> actual)."""

    def __init__(self, base_models: dict[str, Callable[[DataFrame, int], DataFrame]],
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        if not base_models:
            raise ValueError("base_models must be a non-empty dict")
        if len(base_models) < 2:
            # reference parity (ensemble/stacking.py:69-71): a meta-fit
            # over one base model is just that model with extra steps
            raise ValueError("Need at least 2 base models for stacking")
        self.base = base_models
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col

    def fit(self, df: DataFrame, holdout: int = 7) -> "StackingForecaster":
        # the cut is the (holdout+1)-th LARGEST distinct timestamp: a
        # descending limit plans as TakeOrderedAndProject (per-partition
        # top-k heads + a driver merge of k rows) instead of a full sort
        # + full collect of the time axis (r12, guide §2.4 — the
        # orderBy existed only to index one element)
        top = df.select(self.time_col).distinct().orderBy(
            F.col(self.time_col).desc()).limit(holdout + 1).collect()
        if len(top) < holdout + 1:
            raise IndexError(
                f"holdout={holdout} needs at least {holdout + 1} distinct "
                f"timestamps, got {len(top)}")
        cut = top[-1][0]
        train = df.filter(F.col(self.time_col) <= F.lit(cut))
        test = df.filter(F.col(self.time_col) > F.lit(cut))
        joined = test.select(self.id_col, self.time_col, self.target_col)
        names = list(self.base)
        # base-model fits are independent Spark jobs — submit them from
        # a thread pool (the backtest/EnbPI pattern) so their stages
        # interleave instead of running B sequential barriers
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, min(len(names), 8))) as pool:
            preds = dict(zip(names, pool.map(
                lambda n: self.base[n](train, holdout), names)))
        for n in names:
            p = preds[n].withColumnRenamed("y_hat", f"__p_{n}")
            joined = joined.join(p, [self.id_col, self.time_col], "inner")
        # meta-ridge needs only X'X / X'y — one distributed aggregation
        # of (B+1)² scalars instead of collecting the n_series × holdout
        # × B prediction frame to the driver (alpha=0: plain normal
        # equations, the oracle's exact math; lstsq fallback inside
        # covers a singular prediction Gram). Known tradeoff vs the old
        # raw-matrix SVD: normal equations square the condition number,
        # so NEAR-collinear base models (two bases agreeing to ~1e-9)
        # can produce large opposite-sign meta weights — if you stack
        # near-duplicates, drop one or pass a small ridge alpha here.
        from polars_ts_spark.operators.pipeline import _ridge_fit_distributed

        self.meta = _ridge_fit_distributed(
            joined, [f"__p_{n}" for n in names], self.target_col, alpha=0.0
        )
        return self

    def predict(self, df: DataFrame, h: int = 7) -> DataFrame:
        names = list(self.base)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, min(len(names), 8))) as pool:
            preds = dict(zip(names, pool.map(lambda n: self.base[n](df, h), names)))
        out = None
        for n in names:
            p = preds[n].withColumnRenamed("y_hat", f"__p_{n}")
            out = p if out is None else out.join(p, [self.id_col, self.time_col], "inner")
        expr = sum(F.col(f"__p_{n}") * float(self.meta[i]) for i, n in enumerate(names)) + float(self.meta[-1])
        return out.select(self.id_col, self.time_col, expr.alias("y_hat"))


# ---------------------------------------------------------------------------
# conformal intervals


def conformal_interval(
    calib: DataFrame,
    forecast: DataFrame,
    coverage: float = 0.9,
    symmetric: bool = True,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Split-conformal bounds (conformal.py:21-130): finite-sample
    corrected EXACT quantile of calibration residuals per series, then
    y_hat ± q. calib must contain [id, ds, y, y_hat].

    Exact `percentile` (not percentile_approx) keeps the coverage
    guarantee (SURVEY §4.2)."""
    def _order_stat(resid: DataFrame, p: float, name: str) -> DataFrame:
        # the finite-sample conformal quantile IS an order statistic:
        # the ceil(p*(n+1))-th smallest residual (clamped to [1, n]).
        # row_number avoids `percentile`'s constant-fraction restriction
        # and keeps the guarantee exact.
        w = Window.partitionBy(id_col).orderBy(F.col("__r"))
        ranked = resid.select(
            id_col, "__r",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("__n"),
        )
        idx = F.greatest(F.lit(1), F.least(F.col("__n"), F.ceil(F.lit(p) * (F.col("__n") + 1))))
        return ranked.filter(F.col("__rn") == idx).select(id_col, F.col("__r").alias(name))

    if symmetric:
        resid = calib.select(
            id_col, F.abs(F.col(target_col) - F.col("y_hat")).alias("__r")
        )
        q = _order_stat(resid, coverage, "__q")
        return (
            forecast.join(q, id_col, "left")
            .select(
                id_col, time_col, "y_hat",
                (F.col("y_hat") - F.col("__q")).alias("y_hat_lower"),
                (F.col("y_hat") + F.col("__q")).alias("y_hat_upper"),
            )
        )
    lo_p, hi_p = (1 - coverage) / 2, 1 - (1 - coverage) / 2
    resid = calib.select(id_col, (F.col(target_col) - F.col("y_hat")).alias("__r"))
    q = _order_stat(resid, lo_p, "__lo").join(_order_stat(resid, hi_p, "__hi"), id_col)
    return (
        forecast.join(q, id_col, "left")
        .select(
            id_col, time_col, "y_hat",
            (F.col("y_hat") + F.col("__lo")).alias("y_hat_lower"),
            (F.col("y_hat") + F.col("__hi")).alias("y_hat_upper"),
        )
    )


# ---------------------------------------------------------------------------
# hierarchical reconciliation


def _normalize_hierarchy(
    hierarchy: dict[str, str | list[str]],
) -> dict[str, list[str]]:
    """child -> parent OR child -> [parents]: tree and grouped/
    cross-sectional hierarchies in one shape (ref
    reconciliation.py:13-38 — a node may roll up into several
    non-nested grouping dimensions, e.g. product AND region)."""
    return {
        c: list(p) if isinstance(p, (list, tuple)) else [p]
        for c, p in hierarchy.items()
    }


def _ancestor_pairs(hierarchy: dict[str, str | list[str]]) -> list[tuple[str, str]]:
    """(node, ancestor) transitive closure over a tree OR grouped
    hierarchy — BFS over all parent lists, deduplicated."""
    g = _normalize_hierarchy(hierarchy)
    pairs = []
    for child in g:
        seen: set[str] = set()
        stack = list(g[child])
        while stack:
            p = stack.pop()
            if p in seen:
                continue
            seen.add(p)
            pairs.append((child, p))
            stack.extend(g.get(p, []))
    return pairs


def reconcile_bottom_up(
    bottom: DataFrame,
    hierarchy: dict[str, str | list[str]],
    id_col: str = ID,
    time_col: str = TIME,
    value_col: str = "y_hat",
) -> DataFrame:
    """Bottom-up: parents = sum of descendants' base forecasts
    (reconciliation.py:41-120). The hierarchy (child -> parent, or
    child -> [parents] for grouped/cross-sectional hierarchies) is
    broadcast as an edge table; totals come from a groupBy — the
    summing-matrix matmul expressed relationally, no driver linear
    algebra. Output includes bottom AND ancestor rows."""
    spark = bottom.sparkSession
    # transitive closure on the driver (hierarchies are small, §1.4)
    anc_rows = _ancestor_pairs(hierarchy)
    edges = spark.createDataFrame(anc_rows, [id_col, "__anc"])
    # bottom feeds BOTH the passthrough and the ancestor aggregation —
    # materialize it or the upstream forecast plan runs once per consumer
    bottom = materialize(bottom)
    parents = (
        bottom.join(F.broadcast(edges), id_col)
        .groupBy(F.col("__anc").alias(id_col), time_col)
        .agg(F.sum(value_col).alias(value_col))
    )
    return bottom.select(id_col, time_col, value_col).unionByName(parents)


def reconcile_top_down(
    bottom_hist: DataFrame,
    total_forecast: DataFrame,
    hierarchy: dict[str, str],
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    value_col: str = "y_hat",
) -> DataFrame:
    """Top-down by historical proportions (reconciliation.py:150-230):
    p_i = mean share of bottom series i in the total; bottom forecast =
    p_i * total forecast."""
    root = {v for v in hierarchy.values() if v not in hierarchy}
    assert len(root) == 1, "top_down needs a single root"
    totals = bottom_hist.groupBy(time_col).agg(F.sum(target_col).alias("__tot"))
    shares = (
        bottom_hist.join(totals, time_col)
        .groupBy(id_col)
        .agg(F.mean(F.col(target_col) / F.col("__tot")).alias("__share"))
    )
    return (
        total_forecast.crossJoin(F.broadcast(shares))
        .select(id_col, time_col, (F.col(value_col) * F.col("__share")).alias(value_col))
    )


def _summing_matrix(hierarchy: dict[str, str | list[str]]):
    """S (n_nodes × n_bottom) for a child->parent tree OR grouped
    hierarchy (ref reconciliation.py:297-328) — a bottom contributes to
    EVERY ancestor reachable through any of its parent dimensions.
    Returns (S, nodes, bottoms)."""
    g = _normalize_hierarchy(hierarchy)
    parents = {p for ps in g.values() for p in ps}
    nodes = sorted(set(g) | parents)
    bottoms = sorted(set(g) - parents)
    closure = {c: set() for c in g}
    for c, a in _ancestor_pairs(g):
        closure.setdefault(c, set()).add(a)
    S = np.zeros((len(nodes), len(bottoms)))
    for j, b in enumerate(bottoms):
        anc_b = closure.get(b, set()) | {b}
        for i, n in enumerate(nodes):
            if n in anc_b:
                S[i, j] = 1.0
    return S, nodes, bottoms


def mint_projection(hierarchy: dict[str, str | list[str]], W: np.ndarray | None = None) -> tuple[np.ndarray, list[str]]:
    """MinTrace projection P = S (S' W⁻¹ S)⁻¹ S' W⁻¹ (OLS when W is
    None/identity). Returns (P, node order)."""
    S, nodes, _ = _summing_matrix(hierarchy)
    if W is None:
        P = S @ np.linalg.inv(S.T @ S) @ S.T
    else:
        W_inv = np.linalg.pinv(W)
        P = S @ np.linalg.pinv(S.T @ W_inv @ S) @ S.T @ W_inv
    return P, nodes


def _apply_projection(
    forecasts: DataFrame,
    P: np.ndarray,
    nodes: list[str],
    id_col: str,
    time_col: str,
    value_col: str,
    interval_cols: list[str] | None = None,
) -> DataFrame:
    """ŷ_rec(t) = P ŷ(t) per timestamp via a grouped pandas UDF keyed
    by ds — distributed over time; missing nodes contribute 0 (ref
    _apply_projection, reconciliation.py:330-366). Interval columns are
    reconciled with the same P independently."""
    node_pos = {n: i for i, n in enumerate(nodes)}
    cols = [value_col, *(interval_cols or [])]

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {id_col: nodes, time_col: pdf[time_col].iloc[0]}
        idx = pdf[id_col].map(node_pos)
        known = idx.notna()
        for c in cols:
            y = np.zeros(len(nodes))
            y[idx[known].astype(int)] = pdf[c][known].to_numpy(dtype=float)
            out[c] = P @ y
        return pd.DataFrame(out)

    schema = ", ".join([f"{id_col} string", f"{time_col} timestamp"]
                       + [f"{c} double" for c in cols])
    return forecasts.groupBy(time_col).applyInPandas(kern, schema)


def reconcile_ols(
    forecasts: DataFrame,
    hierarchy: dict[str, str],
    id_col: str = ID,
    time_col: str = TIME,
    value_col: str = "y_hat",
    interval_cols: list[str] | None = None,
) -> DataFrame:
    """MinT-OLS projection (reconciliation.py:260-360): per timestamp,
    ŷ_rec = S (S'S)^-1 S' ŷ over the full node vector. S is built on
    the driver (hierarchy small); the per-timestamp matmul runs in a
    grouped pandas UDF keyed by ds — distributed over time. Optional
    ``interval_cols`` (e.g. lo/hi bounds) are projected with the same P
    (ref reconciliation.py:53-104 interval reconciliation)."""
    P, nodes = mint_projection(hierarchy, None)
    return _apply_projection(forecasts, P, nodes, id_col, time_col, value_col, interval_cols)


def reconcile_permbu(
    forecasts: DataFrame,
    hierarchy: dict[str, str],
    residuals: DataFrame,
    id_col: str = ID,
    time_col: str = TIME,
    value_col: str = "y_hat",
    residual_col: str = "residual",
    shrink: float = 0.5,
    interval_cols: list[str] | None = None,
) -> DataFrame:
    """PERMBU MinTrace (ref reconciliation.py:483-523): W is the
    empirical residual covariance shrunk halfway to its diagonal, then
    P = S (S' W⁻¹ S)⁻¹ S' W⁻¹.

    Spark-first W: W[i,j] = (1/T)·Σ_t e_i(t)e_j(t) is a residual
    self-join on timestamp + one groupBy over (node_i, node_j) — the
    covariance never materializes row-wise on the driver; only the
    n_nodes² aggregate (driver-scale by construction) is collected."""
    _, nodes, _ = _summing_matrix(hierarchy)
    node_set = set(nodes)
    res = residuals.select(
        F.col(id_col).alias("__n"), F.col(time_col).alias("__t"),
        F.col(residual_col).cast("double").alias("__e"),
    ).where(F.col("__n").isin(*node_set))
    T = res.select("__t").distinct().count()
    a = res.select(F.col("__n").alias("__i"), "__t", F.col("__e").alias("__ei"))
    b = res.select(F.col("__n").alias("__j"), "__t", F.col("__e").alias("__ej"))
    cov_rows = (
        a.join(b, "__t")
        .groupBy("__i", "__j")
        .agg(F.sum(F.col("__ei") * F.col("__ej")).alias("__s"))
        .collect()
    )
    pos = {n: i for i, n in enumerate(nodes)}
    W = np.zeros((len(nodes), len(nodes)))
    for row in cov_rows:
        W[pos[row["__i"]], pos[row["__j"]]] = row["__s"] / max(T, 1)
    W_reg = shrink * np.diag(np.diag(W)) + (1 - shrink) * W
    P, nodes = mint_projection(hierarchy, W_reg)
    return _apply_projection(forecasts, P, nodes, id_col, time_col, value_col, interval_cols)


def reconcile_mint_cv(
    forecasts: DataFrame,
    hierarchy: dict[str, str],
    train_data: DataFrame,
    n_folds: int = 5,
    id_col: str = ID,
    time_col: str = TIME,
    value_col: str = "y_hat",
    target_col: str = TARGET,
    shrink: float = 0.5,
    interval_cols: list[str] | None = None,
) -> DataFrame:
    """MinTrace with cross-validated covariance (ref
    reconciliation.py:525-589): time folds over train_data, per-fold
    residuals = validation values − train-split node means, W = mean of
    fold covariances shrunk to its diagonal. The node×time matrix is
    n_nodes·T values — driver-scale (the hierarchy bounds n_nodes), as
    in the reference."""
    _, nodes, _ = _summing_matrix(hierarchy)
    pos = {n: i for i, n in enumerate(nodes)}
    pdf = (
        train_data.select(id_col, time_col, F.col(target_col).cast("double"))
        .where(F.col(id_col).isin(*set(nodes)))
        .toPandas()
    )
    times = sorted(pdf[time_col].unique())
    n_times = len(times)
    t_pos = {t: i for i, t in enumerate(times)}
    Y = np.zeros((len(nodes), n_times))
    Y[pdf[id_col].map(pos), pdf[time_col].map(t_pos)] = pdf[target_col].to_numpy()
    folds = min(n_folds, n_times)
    fold_size = n_times // folds
    W_sum = np.zeros((len(nodes), len(nodes)))
    for fold in range(folds):
        val_start = fold * fold_size
        val_end = val_start + fold_size if fold < folds - 1 else n_times
        train_idx = list(range(0, val_start)) + list(range(val_end, n_times))
        if not train_idx:
            continue
        mean_fc = Y[:, train_idx].mean(axis=1, keepdims=True)
        resid = Y[:, val_start:val_end] - mean_fc
        W_sum += (resid @ resid.T) / resid.shape[1]
    W = W_sum / folds
    W_reg = shrink * np.diag(np.diag(W)) + (1 - shrink) * W
    P, nodes = mint_projection(hierarchy, W_reg)
    return _apply_projection(forecasts, P, nodes, id_col, time_col, value_col, interval_cols)


def reconcile_middle_out(
    middle_forecast: DataFrame,
    bottom_hist: DataFrame,
    hierarchy: dict[str, str],
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    value_col: str = "y_hat",
) -> DataFrame:
    """Middle-out reconciliation (reconciliation.py:380-470): forecasts
    are taken at a middle level (the ids present in middle_forecast);
    bottom series get top-down historical-proportion shares of their
    middle ancestor, nodes above the middle get bottom-up sums of the
    middle forecasts. Output = bottom + middle + ancestor rows.

    All three directions are joins/group-bys on the forecast frame —
    the hierarchy edge tables are broadcast, nothing is collected."""
    spark = middle_forecast.sparkSession
    # the forecast feeds all three directions; its checkpoint observes
    # the middle-level ids the hierarchy walk needs
    middle_forecast, row = materialize(
        middle_forecast, F.collect_set(id_col).alias("ids"))
    middle = set(row["ids"])
    # bottom -> its middle ancestor; middle -> each ancestor above it
    bottoms = set(hierarchy) - set(hierarchy.values())
    down_rows, up_rows = [], []
    for b in bottoms:
        node = b
        while node in hierarchy and node not in middle:
            node = hierarchy[node]
        if node in middle and b not in middle:
            down_rows.append((b, node))
    for m in middle:
        node, seen = m, set()
        while node in hierarchy and hierarchy[node] not in seen:
            node = hierarchy[node]
            up_rows.append((m, node))
            seen.add(node)
    down = spark.createDataFrame(down_rows, [id_col, "__mid"])
    # historical share of each bottom within its middle group, averaged
    # over timestamps (top_down proportions, scoped per middle subtree)
    hist = bottom_hist.join(F.broadcast(down), id_col)
    totals = hist.groupBy("__mid", time_col).agg(F.sum(target_col).alias("__tot"))
    shares = (
        hist.join(totals, ["__mid", time_col])
        .groupBy(id_col, "__mid")
        .agg(F.mean(F.col(target_col) / F.col("__tot")).alias("__share"))
    )
    mid_fc = middle_forecast.select(
        F.col(id_col).alias("__mid"), time_col, F.col(value_col).alias("__mfc")
    )
    bottom_rows = (
        shares.join(mid_fc, "__mid")
        .select(id_col, time_col, (F.col("__share") * F.col("__mfc")).alias(value_col))
    )
    up = spark.createDataFrame(up_rows, [id_col, "__anc"])
    parent_rows = (
        middle_forecast.join(F.broadcast(up), id_col)
        .groupBy(F.col("__anc").alias(id_col), time_col)
        .agg(F.sum(value_col).alias(value_col))
    )
    return (
        bottom_rows
        .unionByName(middle_forecast.select(id_col, time_col, value_col))
        .unionByName(parent_rows)
    )


# ---------------------------------------------------------------------------
# probabilistic & bias metrics


def pit_histogram(
    df: DataFrame,
    quantile_cols: dict[float, str],
    n_bins: int = 10,
    target_col: str = TARGET,
) -> DataFrame:
    """Probability-integral-transform histogram (calibration.py:90-150):
    each observation's PIT value is the fraction of predicted quantiles
    it exceeds; binned into n_bins equal-width bins. A calibrated
    forecaster yields a flat histogram. Output [bin_lower, frequency]."""
    cols = [c for _, c in sorted(quantile_cols.items())]
    hits = sum(
        (F.col(target_col) > F.col(f"`{c}`")).cast("double") for c in cols
    )
    pit = hits / float(len(cols))
    binned = df.select(
        F.least(F.floor(pit * n_bins), F.lit(n_bins - 1)).cast("int").alias("__bin")
    )
    n = df.count()
    return (
        binned.groupBy("__bin")
        .agg((F.count("*") / float(n)).alias("frequency"))
        .select((F.col("__bin") / float(n_bins)).alias("bin_lower"), "frequency")
    )


def reliability_diagram(
    df: DataFrame,
    quantile_cols: dict[float, str],
    target_col: str = TARGET,
) -> DataFrame:
    """Reliability diagram table (calibration.py:60-90): nominal
    quantile level vs observed coverage, plus the calibration gap.
    Output [quantile, expected, observed, gap]."""
    cal = calibration_table(
        df.select(target_col, *[F.col(f"`{c}`").alias(f"q_{q}") for q, c in quantile_cols.items()]),
        actual=target_col,
    )
    return cal.select(
        F.col("nominal").alias("quantile"), F.col("nominal").alias("expected"), "observed",
        (F.col("observed") - F.col("nominal")).alias("gap"),
    )


def _hash_choice(seed: int, tag: str, n: int) -> list[int]:
    """Deterministic engine-replicable sample-with-replacement of n draws
    from range(n): the d-th draw is the first 8 md5 hex digits of
    '{seed}:{tag}:{d}' (d 1-based) taken mod n — '0x..'::BIGINT % n in
    SQL reproduces it exactly."""
    return [hash_u32(f"{seed}:{tag}:{d}") % n for d in range(1, n + 1)]


def _hash_permutation(seed: int, tag: str, n: int) -> np.ndarray:
    """Deterministic engine-replicable permutation of range(n): ranks of
    md5 hex digests of '{seed}:{tag}:{rn}' (rn 1-based). Any SQL engine
    with md5() reproduces it exactly — unlike a PCG64 stream."""
    import hashlib

    keys = [hashlib.md5(f"{seed}:{tag}:{rn}".encode()).hexdigest()
            for rn in range(1, n + 1)]
    return np.argsort(np.asarray(keys))


# Rows above which the estimator FIT runs on a deterministic md5-hash
# sample instead of the full design matrix (mirrors isolation_forest's
# subsample-fit contract, anomaly.py FIT_CAP): estimator fitting is the
# one genuinely driver-side step, so its input must be bounded. Scoring
# is always distributed. 100k rows x a few float64 columns ≈ MBs.
PERM_FIT_CAP = 100_000


def _global_row_index(df: DataFrame, order_cols: Sequence[str], out: str = "__rn"):
    """1-based global row index equal to ROW_NUMBER() OVER (ORDER BY
    order_cols) — scale-safe AND deterministic: within-group rank over
    the leading-columns prefix (an ordinary distributed window) plus a
    cumulative group offset computed on the per-group count frame (one
    row per distinct prefix — the series axis, driver-small by the
    SURVEY §1.4 contract) and broadcast-joined back. Never a
    single-reducer global window over the rows, and no
    repartitionByRange (whose sampled boundaries can differ between the
    jobs that reuse the frame). Requires >= 2 order cols; (prefix,
    last) should uniquely key rows."""
    if len(order_cols) < 2:
        raise ValueError("_global_row_index needs >= 2 order cols (prefix + within)")
    *prefix, last = order_cols
    w_in = Window.partitionBy(*prefix).orderBy(last)
    within = df.withColumn("__wr", F.row_number().over(w_in))
    grp = df.groupBy(*prefix).agg(F.count(F.lit(1)).alias("__gc"))
    w_off = Window.orderBy(*prefix).rowsBetween(Window.unboundedPreceding, -1)
    offs = grp.select(
        *prefix, F.coalesce(F.sum("__gc").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        within.join(F.broadcast(offs), list(prefix))
        .withColumn(out, (F.col("__off") + F.col("__wr")).cast("long"))
        .drop("__wr", "__off")
    )


def permutation_importance(
    df: DataFrame,
    feat_cols: Sequence[str],
    target_col: str,
    estimator,
    n_repeats: int = 3,
    seed: int = 42,
    order_cols: Sequence[str] | None = None,
    fit_cap: int = PERM_FIT_CAP,
) -> pd.DataFrame:
    """Metric degradation under column shuffle (importance.py:11-90).
    With ``order_cols`` the computation is fully DISTRIBUTED: the fit
    uses at most ``fit_cap`` rows (deterministic md5 sample above the
    cap; the full matrix below it, so driver-scale results are
    unchanged), the md5-rank permutations are window orderings over the
    global row index (reproducible across engines — the DuckDB oracle
    rebuilds them), and every shuffle is scored by the broadcast fitted
    model inside one mapInPandas pass — no unbounded driver collect.
    Without ``order_cols``: reference RNG semantics (importance.py:31,
    seeded numpy generator) on a ``fit_cap``-bounded collected sample."""
    d = len(feat_cols)
    sel = [*order_cols] if order_cols else []
    base = df.select(*sel, *feat_cols, target_col).dropna()

    if not order_cols:
        # RNG path: permutation of an unordered frame is only defined
        # on a materialized row order — bound it at fit_cap rows
        n = base.count()
        if n > fit_cap:
            frac_key = F.abs(F.xxhash64(*feat_cols, F.lit(seed)))
            # tie-break on every selected column: rows with identical
            # features hash identically, and without a full ordering the
            # limit() sample (hence the fit) would vary across runs /
            # partitionings. Rows still tied after all columns are
            # byte-identical, so the sampled X matrix is unique.
            base = base.withColumn("__s", frac_key % 1_000_003) \
                       .orderBy("__s", *feat_cols, target_col) \
                       .limit(fit_cap).drop("__s")
        pdf = base.toPandas()
        X = pdf[list(feat_cols)].to_numpy(dtype=float)
        y = pdf[target_col].to_numpy(dtype=float)
        estimator.fit(X, y)
        basem = float(np.mean(np.abs(estimator.predict(X) - y)))
        rng = np.random.default_rng(seed)
        rows = []
        for i, c in enumerate(feat_cols):
            degr = []
            for _ in range(n_repeats):
                Xp = X.copy()
                Xp[:, i] = rng.permutation(Xp[:, i])
                degr.append(float(np.mean(np.abs(estimator.predict(Xp) - y))) - basem)
            rows.append({"feature": c, "importance": float(np.mean(degr)),
                         "std": float(np.std(degr))})
        return (pd.DataFrame(rows).sort_values("importance", ascending=False)
                .reset_index(drop=True))

    spark = df.sparkSession
    ridx, row = materialize(_global_row_index(base, order_cols),
                            F.count(F.lit(1)).alias("n"))
    n = row["n"]
    fit_src = ridx if n <= fit_cap else ridx.withColumn(
        "__s", F.md5(F.concat_ws(":", F.lit(f"{seed}:fit"), F.col("__rn")))
    ).orderBy("__s").limit(fit_cap).drop("__s")
    fit_pdf = fit_src.select("__rn", *feat_cols, target_col).toPandas() \
                     .sort_values("__rn").reset_index(drop=True)
    estimator.fit(fit_pdf[list(feat_cols)].to_numpy(dtype=float),
                  fit_pdf[target_col].to_numpy(dtype=float))
    bce = spark.sparkContext.broadcast(estimator)

    feats = list(feat_cols)

    def score_base(batches):
        for pdf in batches:
            pred = bce.value.predict(pdf[feats].to_numpy(dtype=float))
            err = np.abs(pred - pdf[target_col].to_numpy(dtype=float))
            yield pd.DataFrame({"s": [float(err.sum())], "c": [len(err)]})

    b = ridx.mapInPandas(score_base, "s double, c long") \
            .agg((F.sum("s") / F.sum("c")).alias("mae")).first()
    base_mae = float(b["mae"])

    # one long frame: every row x (feature i, repeat r); the md5-rank
    # destination is a window ORDER BY within the (i, r) partition —
    # row q's value lands at row rank(md5('{seed}:{i}:{r}:{q}'))
    ir = ", ".join(f"named_struct('i', {i}, 'r', {r})"
                   for i in range(d) for r in range(n_repeats))
    fv = F.array(*[F.col(c).cast("double") for c in feats])
    long = (
        ridx.select(F.col("__rn"), fv.alias("__fv"),
                    F.explode(F.expr(f"array({ir})")).alias("__ir"))
        .select("__rn", F.col("__ir.i").alias("__i"), F.col("__ir.r").alias("__r"),
                F.element_at("__fv", F.col("__i") + 1).alias("__val"))
        .withColumn("__key", F.md5(F.concat_ws(
            ":", F.lit(str(seed)), F.col("__i"), F.col("__r"), F.col("__rn"))))
    )
    w_ir = Window.partitionBy("__i", "__r").orderBy("__key", "__rn")
    perm = long.select("__i", "__r", "__val",
                       F.row_number().over(w_ir).alias("__dest"))
    joined = ridx.select("__rn", *feats, target_col).join(
        perm, F.col("__rn") == F.col("__dest"))

    def score_perm(batches):
        for pdf in batches:
            out_i, out_r, out_s, out_c = [], [], [], []
            yv = pdf[target_col].to_numpy(dtype=float)
            Xb = pdf[feats].to_numpy(dtype=float)
            pv = pdf["__val"].to_numpy(dtype=float)
            for (i, rr), gidx in pdf.groupby(["__i", "__r"]).indices.items():
                Xp = Xb[gidx].copy()
                Xp[:, int(i)] = pv[gidx]
                err = np.abs(bce.value.predict(Xp) - yv[gidx])
                out_i.append(int(i)); out_r.append(int(rr))
                out_s.append(float(err.sum())); out_c.append(len(gidx))
            yield pd.DataFrame({"i": out_i, "r": out_r, "s": out_s, "c": out_c})

    maes = {
        (rrow["i"], rrow["r"]): float(rrow["mae"])
        for rrow in joined.mapInPandas(score_perm, "i int, r int, s double, c long")
        .groupBy("i", "r").agg((F.sum("s") / F.sum("c")).alias("mae")).collect()
    }
    release(ridx)
    rows = []
    for i, c in enumerate(feats):
        degr = [maes[(i, r)] - base_mae for r in range(n_repeats)]
        rows.append({"feature": c, "importance": float(np.mean(degr)),
                     "std": float(np.std(degr))})
    return (pd.DataFrame(rows).sort_values("importance", ascending=False)
            .reset_index(drop=True))


# ---------------------------------------------------------------------------
# Kaboudan predictability metric (metrics/kaboudan.py:21-216)


def kaboudan_metric(
    df: DataFrame,
    model_fn: Callable[[DataFrame, int], DataFrame],
    horizon: int = 7,
    block_size: int = 7,
    seed: int = 42,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> pd.DataFrame:
    """eta = max(0, 1 - SSE / SSE_shuffled): backtest SSE on the true
    series vs on a block-shuffled version (destroys temporal structure;
    predictable series -> eta near 1; ref metrics/kaboudan.py:21-216).
    The block permutation is the md5-rank order of '{seed}:{sid}:{b}'
    (engine-replicable — the DuckDB oracle rebuilds it), not a PCG64
    stream."""
    times = [r[0] for r in df.select(time_col).distinct().orderBy(time_col).collect()]
    if len(times) <= horizon:
        # reference parity (kaboudan.py:152, tests/metrics/
        # test_kaboudan.py:317): an empty/too-short panel must refuse
        # loudly, not die on a bare index error
        raise ValueError(
            f"Cannot compute series length: need more than {horizon} "
            f"distinct timestamps, found {len(times)}")
    cut = times[-horizon - 1]
    train = df.filter(F.col(time_col) <= F.lit(cut))
    test = df.filter(F.col(time_col) > F.lit(cut))

    def sse_of(train_df, name: str) -> DataFrame:
        preds = model_fn(train_df, horizon)
        j = test.select(id_col, time_col, target_col).join(preds, [id_col, time_col], "inner")
        return j.groupBy(id_col).agg(
            F.sum(F.pow(F.col(target_col) - F.col("y_hat"), 2)).alias(name)
        )

    sse = sse_of(train, "sse")
    # Block-shuffle each series' training values (ids/timestamps fixed)
    # — fully DISTRIBUTED (no panel collect): ordering rows by
    # (md5 block key, original row index) is exactly "concatenate the
    # blocks in md5-rank slot order" (the same permutation
    # _hash_permutation defines — argsort of hex strings ==
    # lexicographic ORDER BY), and the positional re-attach of the
    # fixed timestamps is a self-join on the per-series row index.
    w_t = Window.partitionBy(id_col).orderBy(time_col)
    rows = (
        train.select(id_col, time_col, target_col)
        .withColumn("__rn0", F.row_number().over(w_t) - 1)
        .withColumn(
            "__key",
            F.md5(F.concat_ws(
                ":", F.lit(str(seed)), F.col(id_col).cast("string"),
                (F.floor(F.col("__rn0") / block_size) + 1).cast("string"))),
        )
    )
    w_dest = Window.partitionBy(id_col).orderBy("__key", "__rn0")
    src = rows.withColumn("__dest", F.row_number().over(w_dest) - 1).select(
        F.col(id_col).alias("__sid"), F.col(target_col).alias("__val"), "__dest"
    )
    shuffled = (
        rows.select(id_col, time_col, "__rn0")
        .join(src, (F.col(id_col) == F.col("__sid")) & (F.col("__rn0") == F.col("__dest")))
        .select(id_col, time_col, F.col("__val").alias(target_col))
    )
    # eta stays in Spark: join the two per-series SSE frames and compute
    # the ratio as a column — only the n_series-row RESULT leaves the
    # cluster, not two intermediate SSE round-trips (ref
    # metrics/kaboudan.py:21-216 computes eta per series the same way)
    sse_sh = sse_of(shuffled, "sse_sh")
    eta = sse.join(sse_sh, id_col).select(
        id_col,
        F.greatest(F.lit(0.0), 1.0 - F.col("sse") / F.col("sse_sh")).alias("kaboudan"),
    )
    return eta.toPandas()


# ---------------------------------------------------------------------------
# EnbPI bootstrap-ensemble intervals (conformal.py:190-416)


def _union_all(frames: list[DataFrame]) -> DataFrame:
    if not frames:
        raise ValueError("_union_all: no frames to union")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


class EnbPI:
    """Ensemble-bootstrap prediction intervals: B bootstrap model fits;
    each point's residual comes from models whose bootstrap sample
    excluded it (out-of-bag); intervals = y_hat ± conformal quantile of
    the OOB residuals, updatable online via update(). Bootstrap time
    samples come from md5-hash draws (engine-replicable, see
    _hash_choice) rather than a PCG64 stream."""

    def __init__(self, model_factory, n_bootstraps: int = 10, coverage: float = 0.9, seed: int = 42,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        if n_bootstraps < 1:
            raise ValueError(f"EnbPI needs n_bootstraps >= 1, got {n_bootstraps}")
        self.factory = model_factory
        self.B = n_bootstraps
        self.coverage = coverage
        self.seed = seed
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self.residuals: list[float] = []

    def fit(self, df: DataFrame, holdout: int = 7) -> "EnbPI":
        times = [r[0] for r in df.select(self.time_col).distinct().orderBy(self.time_col).collect()]
        cut = times[-holdout - 1]
        train = df.filter(F.col(self.time_col) <= F.lit(cut))
        test = df.filter(F.col(self.time_col) > F.lit(cut)).select(
            self.id_col, self.time_col, self.target_col
        )
        train_times = [t for t in times if t <= cut]

        def fit_one(b: int):
            # bootstrap by time blocks: sample timestamps with replacement
            keep = set(_hash_choice(self.seed, str(b), len(train_times)))
            sample = train.filter(
                F.col(self.time_col).isin([train_times[i] for i in sorted(keep)])
            )
            m = self.factory()
            m.fit(sample)
            return m, m.predict(sample, holdout)

        # the B fits are independent Spark jobs — submit them from a
        # thread pool so the scheduler interleaves their stages instead
        # of running B sequential barriers
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(self.B, 8)) as pool:
            fitted = list(pool.map(fit_one, range(self.B)))
        self.models = [m for m, _ in fitted]
        # ensemble mean via union + one groupBy (B-way join chains build
        # an O(B)-deep plan); avg() skips models that didn't predict a
        # row — the same NaN-skipping the old pandas mean(axis=1) did
        preds = _union_all([p for _, p in fitted]).groupBy(
            self.id_col, self.time_col
        ).agg(F.avg("y_hat").alias("__ens"))
        # the pooled OOB residual list is n_series × holdout scalars —
        # driver-side BY DESIGN (update() appends online observations to
        # the same multiset); at larger scale the right tool is a
        # mergeable quantile sketch, which would forfeit the exact
        # finite-sample order statistic. The python list costs ~28 B
        # per float, hence a quarter of the value cap.
        resid = (
            test.join(preds, [self.id_col, self.time_col], "left")
            .select(F.abs(F.col(self.target_col) - F.col("__ens")).alias("__r"))
            .dropna()
        )
        self.residuals = collect_capped(
            resid, DRIVER_VALUES_CAP // 4, "EnbPI",
            "The pooled OOB residuals stay on the driver; past the driver "
            "cap, shrink the holdout, fit on a series sample, or switch to a "
            "per-series conformal interval (conformal_interval), which stays "
            "distributed.")["__r"].tolist()
        return self

    def update(self, actual: float, predicted: float) -> None:
        self.residuals.append(abs(actual - predicted))

    def predict_interval(self, df: DataFrame, h: int = 7) -> DataFrame:
        # union + groupBy replaces the old B-way inner-join chain; the
        # count()==B filter preserves the inner-join "all models
        # predicted this row" semantics
        ens = (
            _union_all([m.predict(df, h) for m in self.models])
            .groupBy(self.id_col, self.time_col)
            .agg(F.avg("y_hat").alias("__m"), F.count("y_hat").alias("__n"))
            .filter(F.col("__n") == self.B)
        )
        r = sorted(self.residuals)
        k = min(len(r) - 1, max(0, int(np.ceil(self.coverage * (len(r) + 1))) - 1))
        q = float(r[k]) if r else 0.0
        return ens.select(
            self.id_col, self.time_col,
            F.col("__m").alias("y_hat"),
            (F.col("__m") - q).alias("y_hat_lower"),
            (F.col("__m") + q).alias("y_hat_upper"),
        )
