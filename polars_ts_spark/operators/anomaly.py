"""Anomaly detection (SURVEY §2.15): isolation forest on engineered
features and Bayesian NIG predictive-likelihood scores.

Reference parity:
- isolation_forest_detect -> polars_ts/anomaly_forest.py:10-101
  (sklearn IsolationForest; ours is a self-contained numpy isolation
  forest — same algorithm, seeded)
- bayesian_anomaly_score / BayesianAnomalyDetector
  -> polars_ts/bayesian/anomaly.py:133-329 (normal-inverse-gamma
  posterior, Student-t predictive; low predictive density = anomaly)

Spark mapping: feature build is the §2.11 window plan; the forest is
fit on a collected (or sampled) matrix — global mode — and scoring is
a broadcast-tree pandas UDF over the full panel. The Bayesian score is
a sequential per-series recursion -> applyInPandas.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.functions.numutils import _lgamma, hash_u32, hash_unit
from polars_ts_spark.operators.kernel import for_each_series
from polars_ts_spark.panel import ID, TARGET, TIME

# ---------------------------------------------------------------------------
# isolation forest (numpy)


def _avg_path(n: int) -> float:
    if n <= 1:
        return 0.0
    h = math.log(n - 1) + 0.5772156649
    return 2.0 * h - 2.0 * (n - 1) / n


class IsolationForest:
    """Isolation forest with ORDER-INDEPENDENT md5 draws
    (anomaly_forest.py:10-101 semantics; same split rule, path-length
    scoring and 2^(-E[h]/c(ss)) score as sklearn's). Every random
    choice is a pure function of (seed, tree, heap-node) rather than a
    position in a PCG64 stream, so the whole fit trajectory — per-tree
    md5-rank subsampling, per-node feature pick among positive-span
    features, per-node uniform threshold — replays exactly in SQL
    (the round-5 CLARANS/QMLE replay technique):

    - tree t's sample: row indices ranked by md5(f"{seed}:s:{t}:{i}"),
      first ss.
    - node feature: ok = sorted feature idx with span > 0;
      feat = ok[hash_u32(f"{seed}:f:{t}:{node}") % len(ok)].
    - threshold: lo + hash_unit(f"{seed}:t:{t}:{node}") * (hi - lo).
    - children: x[feat] < thr -> 2*node, else 2*node+1 (heap ids).

    Trees are stored as dense per-tree arrays (feat/thr/leaf-add
    indexed by heap node) so scoring is a vectorized 8-step walk, not
    a per-row recursion."""

    def __init__(self, n_trees: int = 100, sample_size: int = 256, seed: int = 42):
        self.n_trees, self.sample_size, self.seed = n_trees, sample_size, seed

    def fit(self, X: np.ndarray) -> "IsolationForest":
        X = np.asarray(X, float)
        n = len(X)
        ss = min(self.sample_size, n)
        self.max_depth = int(np.ceil(np.log2(max(ss, 2))))
        width = 1 << (self.max_depth + 1)
        seed = self.seed
        self.feat = np.full((self.n_trees, width), -1, dtype=np.int64)
        self.thr = np.zeros((self.n_trees, width))
        self.leaf_add = np.zeros((self.n_trees, width))
        for t in range(self.n_trees):
            # md5-rank sample: rank by the 16 raw digest bytes as two
            # big-endian u64s — identical order to the hex-string sort
            # the SQL oracle uses (ROW_NUMBER OVER (ORDER BY md5(...)))
            # without materializing n python strings per tree
            pre = f"{seed}:s:{t}:".encode()
            dig = b"".join(hashlib.md5(pre + b"%d" % i).digest() for i in range(n))
            u = np.frombuffer(dig, dtype=">u8").reshape(n, 2)
            order = np.lexsort((u[:, 1], u[:, 0]))
            frontier: dict[int, np.ndarray] = {1: order[:ss]}
            for d in range(self.max_depth + 1):
                nxt: dict[int, np.ndarray] = {}
                for node, rows in frontier.items():
                    sub = X[rows]
                    if d >= self.max_depth or len(rows) <= 1:
                        self.leaf_add[t, node] = _avg_path(len(rows))
                        continue
                    lo = sub.min(axis=0)
                    hi = sub.max(axis=0)
                    ok = np.flatnonzero(hi - lo > 0)
                    if len(ok) == 0:
                        self.leaf_add[t, node] = _avg_path(len(rows))
                        continue
                    f = int(ok[hash_u32(f"{seed}:f:{t}:{node}") % len(ok)])
                    thr = lo[f] + hash_unit(f"{seed}:t:{t}:{node}") * (hi[f] - lo[f])
                    self.feat[t, node] = f
                    self.thr[t, node] = thr
                    mask = sub[:, f] < thr
                    nxt[2 * node] = rows[mask]
                    nxt[2 * node + 1] = rows[~mask]
                frontier = nxt
        self._c = _avg_path(ss)
        return self

    def score(self, X: np.ndarray) -> np.ndarray:
        """Anomaly score in (0, 1); > 0.5 ~ anomalous."""
        X = np.asarray(X, float)
        n = len(X)
        depths = np.zeros(n)
        for t in range(self.n_trees):
            node = np.ones(n, dtype=np.int64)
            depth = np.zeros(n)
            for _ in range(self.max_depth):
                f = self.feat[t, node]
                split = f >= 0
                xv = X[np.arange(n), np.maximum(f, 0)]
                go_right = (xv >= self.thr[t, node]).astype(np.int64)
                node = np.where(split, 2 * node + go_right, node)
                depth += split
            depths += depth + self.leaf_add[t, node]
        depths /= self.n_trees
        return 2.0 ** (-depths / max(self._c, 1e-9))


def isolation_forest_detect(
    df: DataFrame,
    feature_cols: list[str] | None = None,
    threshold: float = 0.6,
    n_trees: int = 100,
    seed: int = 42,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Global-model isolation forest over panel features ->
    [.., anomaly_score, is_anomaly]. Default features: y, lag-1 diff,
    rolling z-score components."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(time_col)
    feats = df
    if feature_cols is None:
        feats = (
            df.withColumn("__d1", F.col(target_col) - F.lag(target_col, 1).over(w))
            .withColumn(
                "__rz",
                (F.col(target_col) - F.avg(target_col).over(Window.partitionBy(id_col)))
                / F.stddev_samp(target_col).over(Window.partitionBy(id_col)),
            )
            .fillna(0.0, ["__d1", "__rz"])
        )
        feature_cols = [target_col, "__d1", "__rz"]
    # Subsample-capped fit: isolation forests train each tree on a
    # 256-row subsample anyway (ref anomaly_forest.py:10-101), so
    # collecting the full panel buys nothing. Count first (scalar),
    # sample only what the fit needs, and score the ORIGINAL
    # distributed frame — no createDataFrame round-trip.
    FIT_CAP = 100_000
    # (id, time) sort fixes the fit-matrix row order: the forest's
    # md5-rank subsample is keyed on the row INDEX, so the index->row
    # mapping must be engine-replicable (the SQL oracle rebuilds it as
    # ROW_NUMBER() OVER (ORDER BY id, ds))
    feat_src = feats.select(id_col, time_col, *feature_cols)
    n = feat_src.count()
    if n > FIT_CAP:
        frac = min(1.0, 1.2 * FIT_CAP / n)
        feat_src = feat_src.sample(fraction=frac, seed=seed).limit(FIT_CAP)
    fit_pdf = feat_src.toPandas().sort_values([id_col, time_col])
    X = fit_pdf[list(feature_cols)].to_numpy(dtype=float)
    forest = IsolationForest(n_trees=n_trees, seed=seed).fit(X)
    # broadcast the fitted trees; score inside a pandas UDF partition-wise
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(forest)
    extra = [c for c in feature_cols if c not in (id_col, time_col, target_col)]
    sdf = feats.select(id_col, time_col, target_col, *extra)

    def score(batches):
        for b in batches:
            Xb = b[feature_cols].to_numpy(dtype=float)
            s = bc.value.score(Xb)
            out = b[[id_col, time_col, target_col]].copy()
            out["anomaly_score"] = s
            out["is_anomaly"] = s > threshold
            yield out

    dtypes = dict(df.dtypes)
    schema = (
        f"{id_col} {dtypes.get(id_col, 'string')}, "
        f"{time_col} {dtypes.get(time_col, 'timestamp')}, "
        f"{target_col} double, anomaly_score double, is_anomaly boolean"
    )
    return sdf.mapInPandas(score, schema)


# ---------------------------------------------------------------------------
# Bayesian NIG anomaly scores


def bayesian_anomaly_series(
    y: np.ndarray,
    mu0: float = 0.0,
    kappa0: float = 0.01,
    alpha0: float = 1.0,
    beta0: float = 1.0,
) -> np.ndarray:
    """Per-step negative log predictive density under the running NIG
    posterior (anomaly.py:133-250): high = surprising observation."""
    y = np.asarray(y, float)
    mu, kappa, alpha, beta = mu0, kappa0, alpha0, beta0
    out = np.empty(len(y))
    for t, yt in enumerate(y):
        df_ = 2 * alpha
        scale2 = beta * (kappa + 1) / (alpha * kappa)
        z2 = (yt - mu) ** 2 / scale2
        log_pdf = (
            _lgamma((df_ + 1) / 2) - _lgamma(df_ / 2)
            - 0.5 * np.log(np.pi * df_ * scale2)
            - (df_ + 1) / 2 * np.log1p(z2 / df_)
        )
        out[t] = -log_pdf
        beta = beta + kappa * (yt - mu) ** 2 / (2 * (kappa + 1))
        mu = (kappa * mu + yt) / (kappa + 1)
        kappa += 1
        alpha += 0.5
    return out


def bayesian_anomaly_score(
    df: DataFrame,
    threshold: float | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, ds, y, anomaly_score, is_anomaly] — NIG predictive
    surprise per observation; threshold defaults to mean + 3 std of the
    series' own scores."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        y = pdf[target_col].to_numpy(dtype=float)
        s = bayesian_anomaly_series(y - np.nanmean(y))
        thr = threshold if threshold is not None else float(s.mean() + 3 * s.std())
        return pd.DataFrame({
            id_col: pdf[id_col], time_col: pdf[time_col], target_col: y,
            "anomaly_score": s, "is_anomaly": s > thr,
        })

    schema = (
        f"{id_col} string, {time_col} timestamp, {target_col} double, "
        "anomaly_score double, is_anomaly boolean"
    )
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)
