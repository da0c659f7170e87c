"""ROCKET / MiniRocket convolutional features (SURVEY §2.11) and the
ridge classifier on top (§2.16).

Reference parity:
- rocket_features     -> polars_ts/features/rocket.py:44-132 (random
  dilated kernels len 7/9/11, PPV + max per kernel)
- minirocket_features -> polars_ts/features/rocket.py:138-245 (84
  fixed C(9,3) patterns x dilations, PPV vs quantile bias)
- RocketClassifier    -> polars_ts/classification/rocket_classifier.py:23
  (rocket features + ridge)

Spark mapping: kernels are generated ONCE on the driver from a seeded
Generator and broadcast (closure capture); per-series convolutions run
in `applyInPandas`. Output is one row per series with feature columns
(wide) — the reference's `(n_series, n_features)` matrix as a
DataFrame.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.functions.numutils import RidgeEstimator
from polars_ts_spark.panel import ID, TARGET, TIME
from polars_ts_spark.session import DRIVER_VALUES_CAP, collect_capped


def generate_rocket_kernels(n_kernels: int, seed: int = 42):
    """(weights, length, bias, dilation, padding) tuples — seeded
    (rocket.py:44-80)."""
    rng = np.random.default_rng(seed)
    kernels = []
    for _ in range(n_kernels):
        length = int(rng.choice([7, 9, 11]))
        w = rng.normal(0, 1, length)
        w = w - w.mean()
        bias = float(rng.uniform(-1, 1))
        dilation = int(2 ** rng.uniform(0, 5))
        padding = ((length - 1) * dilation) // 2 if rng.random() > 0.5 else 0
        kernels.append((w, length, bias, dilation, padding))
    return kernels


def _apply_kernel(x: np.ndarray, w: np.ndarray, bias: float, dilation: int, padding: int):
    n = len(x)
    length = len(w)
    if padding:
        x = np.concatenate([np.zeros(padding), x, np.zeros(padding)])
    span = (length - 1) * dilation
    out_len = len(x) - span
    if out_len < 1:
        return 0.0, 0.0
    conv = np.zeros(out_len)
    for i, wi in enumerate(w):
        conv += wi * x[i * dilation : i * dilation + out_len]
    conv = conv + bias
    return float((conv > 0).mean()), float(conv.max())


def rocket_features(
    df: DataFrame,
    n_kernels: int = 100,
    seed: int = 42,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, rocket_0 .. rocket_{2k-1}] — PPV and max per kernel."""
    kernels = generate_rocket_kernels(n_kernels, seed)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        x = pdf[target_col].to_numpy(dtype=float)
        feats: dict = {id_col: [str(pdf[id_col].iloc[0])]}
        for ki, (w, length, bias, dilation, padding) in enumerate(kernels):
            ppv, mx = _apply_kernel(x, w, bias, dilation, padding)
            feats[f"rocket_{2 * ki}"] = [ppv]
            feats[f"rocket_{2 * ki + 1}"] = [mx]
        return pd.DataFrame(feats)

    cols = ", ".join(f"rocket_{i} double" for i in range(2 * n_kernels))
    schema = f"{id_col} string, {cols}"
    return df.groupBy(id_col).applyInPandas(
        lambda pdf: kern(pdf), schema=schema
    )


def _minirocket_patterns():
    """The 84 C(9,3) weight patterns: 3 positions get +2, rest -1."""
    return list(combinations(range(9), 3))


def minirocket_features(
    df: DataFrame,
    dilations: tuple[int, ...] = (1, 2, 4),
    seed: int = 42,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, minirocket_0 ..] — PPV per (pattern, dilation), bias =
    median convolution value of the series itself (quantile-bias
    scheme, rocket.py:180-220)."""
    patterns = _minirocket_patterns()

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        x = pdf[target_col].to_numpy(dtype=float)
        feats: dict = {id_col: [str(pdf[id_col].iloc[0])]}
        fi = 0
        for dilation in dilations:
            span = 8 * dilation
            out_len = len(x) - span
            for pat in patterns:
                if out_len < 1:
                    feats[f"minirocket_{fi}"] = [0.0]
                    fi += 1
                    continue
                conv = np.zeros(out_len)
                for i in range(9):
                    wi = 2.0 if i in pat else -1.0
                    conv += wi * x[i * dilation : i * dilation + out_len]
                bias = float(np.median(conv))
                feats[f"minirocket_{fi}"] = [float((conv > bias).mean())]
                fi += 1
        return pd.DataFrame(feats)

    n_feats = len(patterns) * len(dilations)
    cols = ", ".join(f"minirocket_{i} double" for i in range(n_feats))
    schema = f"{id_col} string, {cols}"
    return df.groupBy(id_col).applyInPandas(lambda pdf: kern(pdf), schema=schema)


class RocketClassifier:
    """rocket features (distributed) -> driver ridge one-vs-rest
    (rocket_classifier.py:23-140)."""

    def __init__(self, n_kernels: int = 100, seed: int = 42, alpha: float = 1.0,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        self.n_kernels, self.seed, self.alpha = n_kernels, seed, alpha
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col

    def _features(self, df: DataFrame) -> pd.DataFrame:
        # the kernel transform is distributed; only the n_series ×
        # n_feats matrix lands on the driver for the ridge solve
        feats = rocket_features(
            df, self.n_kernels, self.seed, self.id_col, self.time_col, self.target_col)
        pdf = collect_capped(
            feats, DRIVER_VALUES_CAP // (2 * self.n_kernels + 1), "RocketClassifier",
            "The one-vs-rest ridge is driver-side by design; reduce "
            "n_kernels or classify a sample of series.")
        return pdf.set_index(self.id_col).sort_index()

    def fit(self, df: DataFrame, labels: DataFrame) -> "RocketClassifier":
        feats = self._features(df)
        lab = labels.toPandas().set_index(self.id_col)["label"]
        lab = lab.loc[feats.index]
        self.classes_ = sorted(lab.unique())
        X = feats.to_numpy(dtype=float)
        self.models = {}
        for c in self.classes_:
            y = (lab == c).to_numpy(dtype=float)
            self.models[c] = RidgeEstimator(self.alpha).fit(X, y)
        return self

    def predict(self, df: DataFrame) -> pd.DataFrame:
        feats = self._features(df)
        X = feats.to_numpy(dtype=float)
        scores = np.stack([self.models[c].predict(X) for c in self.classes_], axis=1)
        preds = [self.classes_[i] for i in np.argmax(scores, axis=1)]
        return pd.DataFrame({self.id_col: feats.index, "label_pred": preds})
