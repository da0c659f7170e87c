"""ML forecasting pipeline layer (SURVEY §2.12 — the flagship ops).

Reference parity:
- RecursiveForecaster -> polars_ts/models/multistep.py:61-252 (train a
  1-step model on the lag matrix; recursive h-step feedback)
- DirectForecaster    -> polars_ts/models/multistep.py:255-450 (one
  model per horizon step)
- ForecastPipeline    -> polars_ts/pipeline.py:209-462 (transform ->
  lag/rolling/calendar features -> estimator; recursive decode with
  in-loop feature rebuild + inverse transform)
- GlobalForecaster    -> polars_ts/global_model.py:25-382 (pooled
  pipeline + ordinal id encoding)
- QuantileRegressor   -> polars_ts/probabilistic/quantile_regression.py:19-177

Spark split (SURVEY §3.2): TRAINING features are built by the Catalyst
window plan (operators/features.py — one shuffle for the whole chain);
the design matrix is collected to the driver for the closed-form ridge
solve (X'X is n_features², independent of panel size — at 100 TB the
collect becomes a treeAggregate of X'X/X'y Gram blocks, same math).
PREDICTION is `applyInPandas` per series: the recursive decode
replicates the training feature builder step-by-step in numpy with the
broadcast coefficient vector — exactly the reference's
`_build_step_features` loop (pipeline.py:116-201), vectorized per
group and distributed across series.

Estimators are pluggable via the sklearn protocol (fit/predict);
RidgeEstimator (functions/numutils.py) is the built-in default since
the container ships no sklearn.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.functions.numutils import RidgeEstimator
from polars_ts_spark.operators import features as FT
from polars_ts_spark.operators.kernel import for_each_series
from polars_ts_spark.panel import ID, TARGET, TIME, require_columns
from polars_ts_spark.session import DRIVER_VALUES_CAP, collect_capped, materialize, release

# ---------------------------------------------------------------------------
# design-matrix assembly (training side — pure Spark feature plan)


def _training_frame(
    df: DataFrame,
    lags: list[int],
    rolling_windows: list[int],
    rolling_aggs: list[str],
    calendar: bool,
    id_col: str,
    time_col: str,
    target_col: str,
    past_covariates: list[str] | None = None,
    past_covariate_lags: list[int] | None = None,
    future_covariates: list[str] | None = None,
) -> tuple[DataFrame, list[str]]:
    out = FT.lag_features(df, lags, id_col, time_col, target_col)
    if past_covariates:
        # lagged values only — the covariate's CURRENT value is unknown
        # at decode time (ref multistep.py:143-160)
        cov_lags = past_covariate_lags or list(lags)
        out = FT.covariate_lag_features(out, past_covariates, cov_lags, id_col, time_col)
    if rolling_windows:
        # rolling features must not leak the current value into the
        # regressors: shift by 1 (reference builds them from history
        # in the decode loop, pipeline.py:137-160)
        lagged = out.withColumn(
            "__y_shift", F.lag(target_col, 1).over(FT.series_window(id_col, time_col))
        )
        lagged = FT.rolling_features(
            lagged, rolling_windows, rolling_aggs, id_col=id_col,
            time_col=time_col, target_col="__y_shift", min_samples=1,
        )
        for w in rolling_windows:
            for a in rolling_aggs:
                lagged = lagged.withColumnRenamed(
                    f"__y_shift_rolling_{a}_{w}", f"{target_col}_rolling_{a}_{w}"
                )
        out = lagged.drop("__y_shift")
    if calendar:
        out = FT.calendar_features(
            out,
            ["day_of_week", "day_of_month", "month", "quarter", "year", "is_weekend"],
            time_col=time_col,
        )
    # raw past-covariate columns are carriers, not features; future
    # covariates ARE features (known over the horizon, ref pipeline.py:62-66)
    excluded = {id_col, time_col, target_col, *(past_covariates or [])}
    feat_cols = [c for c in out.columns if c not in excluded]
    return out.dropna(), feat_cols


def _collect_xy(feat_df: DataFrame, feat_cols: list[str], target_col: str,
                op_name: str = "fit"):
    pdf = collect_capped(
        feat_df.select(*feat_cols, target_col),
        DRIVER_VALUES_CAP // (len(feat_cols) + 1), op_name,
        "Arbitrary sklearn-protocol estimators fit on the driver by "
        "contract; use the built-in RidgeEstimator (distributed "
        "sufficient-statistics fit), shrink the feature set, or fit on a "
        "bounded sample.")
    X = pdf[feat_cols].to_numpy(dtype=float)
    y = pdf[target_col].to_numpy(dtype=float)
    return X, y


def _ridge_fit_distributed(
    feat_df: DataFrame, feat_cols: list[str], target_col: str, alpha: float
) -> np.ndarray:
    """Fit ridge WITHOUT collecting the design matrix: X'X and X'y are
    sums of per-row outer products, so one Spark aggregation of
    d(d+3)/2 + 2 scalars replaces shipping n×d rows to the driver —
    the design-matrix collect is the piece that cannot survive a 100×
    scale-up; the sufficient statistics are O(d²) regardless of n.
    Returns w (intercept last), identical to numutils.ridge_fit up to
    float summation order."""
    d = len(feat_cols)
    c = [F.col(f).cast("double") for f in feat_cols]
    t = F.col(target_col).cast("double")
    exprs = []
    for i in range(d):
        for j in range(i, d):
            exprs.append(F.sum(c[i] * c[j]).alias(f"xx_{i}_{j}"))
        exprs.append(F.sum(c[i]).alias(f"xs_{i}"))
        exprs.append(F.sum(c[i] * t).alias(f"xy_{i}"))
    exprs.append(F.sum(t).alias("__ys"))
    exprs.append(F.count(F.lit(1)).alias("__n"))
    row = feat_df.agg(*exprs).collect()[0]
    A = np.zeros((d + 1, d + 1))
    b = np.zeros(d + 1)
    for i in range(d):
        for j in range(i, d):
            A[i, j] = A[j, i] = row[f"xx_{i}_{j}"]
        A[i, d] = A[d, i] = row[f"xs_{i}"]
        b[i] = row[f"xy_{i}"]
    A[d, d] = float(row["__n"])
    b[d] = row["__ys"]
    if alpha > 0:
        idx = np.arange(d)
        A[idx, idx] += alpha
    try:
        return np.linalg.solve(A, b)
    except np.linalg.LinAlgError:
        # singular Gram (collinear features, alpha=0): minimum-norm
        # least-squares instead of a crash — same answer when full-rank
        return np.linalg.lstsq(A, b, rcond=None)[0]


def _fit_estimator(est, feat_df: DataFrame, feat_cols: list[str], target_col: str):
    """Ridge (the default) fits from distributed sufficient statistics;
    arbitrary sklearn-protocol estimators fall back to collecting the
    (driver-scale) design matrix, as the reference does."""
    from polars_ts_spark.functions.numutils import RidgeEstimator as _RE

    if isinstance(est, _RE):
        est.coef_ = _ridge_fit_distributed(feat_df, feat_cols, target_col, est.alpha)
        return est
    X, y = _collect_xy(feat_df, feat_cols, target_col,
                       op_name=type(est).__name__ + ".fit")
    return est.fit(X, y)


def _np_calendar(ts: pd.Timestamp) -> dict[str, float]:
    iso_dow = float(ts.isoweekday())
    return {
        "day_of_week": iso_dow,
        "day_of_month": float(ts.day),
        "month": float(ts.month),
        "quarter": float((ts.month - 1) // 3 + 1),
        "year": float(ts.year),
        "is_weekend": 1.0 if iso_dow >= 6 else 0.0,
    }


class RecursiveForecaster:
    """1-step estimator on lag/rolling/calendar features; h-step
    recursive decode feeding predictions back (multistep.py:61-252).

    fit() runs one Spark feature job + a driver solve; predict()
    distributes the sequential decode per series."""

    def __init__(
        self,
        estimator=None,
        lags: list[int] = (1, 7),
        rolling_windows: list[int] = (),
        rolling_aggs: list[str] = ("mean",),
        calendar: bool = False,
        past_covariates: list[str] | None = None,
        future_covariates: list[str] | None = None,
        past_covariate_lags: list[int] | None = None,
        id_col: str = ID,
        time_col: str = TIME,
        target_col: str = TARGET,
    ):
        self.estimator = estimator or RidgeEstimator()
        self.lags = list(lags)
        self.rolling_windows = list(rolling_windows)
        self.rolling_aggs = list(rolling_aggs)
        self.calendar = calendar
        self.past_covariates = sorted(past_covariates) if past_covariates else None
        self.future_covariates = sorted(future_covariates) if future_covariates else None
        self.past_covariate_lags = sorted(past_covariate_lags) if past_covariate_lags else None
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self.feat_cols: list[str] | None = None

    def fit(self, df: DataFrame) -> "RecursiveForecaster":
        require_columns(df, self.id_col, self.time_col, self.target_col,
                        *(self.past_covariates or []), *(self.future_covariates or []))
        feat_df, feat_cols = _training_frame(
            df, self.lags, self.rolling_windows, self.rolling_aggs,
            self.calendar, self.id_col, self.time_col, self.target_col,
            self.past_covariates, self.past_covariate_lags, self.future_covariates,
        )
        self.feat_cols = feat_cols
        _fit_estimator(self.estimator, feat_df, feat_cols, self.target_col)
        return self

    def _decode_input(self, df: DataFrame, future_df: DataFrame | None) -> DataFrame:
        """History rows plus (optional) future-covariate rows, tagged by
        __role, co-partitioned by series — the future covariate lookup
        stays distributed instead of a driver dict (ref multistep.py
        builds future_lookup on the driver)."""
        if self.future_covariates and future_df is None:
            raise ValueError("future_df is required when future_covariates are configured")
        hist = df.select(
            self.id_col, self.time_col,
            F.col(self.target_col).cast("double").alias(self.target_col),
            *[F.col(c).cast("double").alias(c)
              for c in (*(self.past_covariates or []), *(self.future_covariates or []))],
        ).withColumn("__role", F.lit("hist"))
        if not self.future_covariates:
            return hist
        fut = future_df.select(
            self.id_col, self.time_col,
            F.lit(None).cast("double").alias(self.target_col),
            *[F.lit(None).cast("double").alias(c) for c in (self.past_covariates or [])],
            *[F.col(c).cast("double") for c in self.future_covariates],
        ).withColumn("__role", F.lit("future"))
        return hist.unionByName(fut)

    def _decode_kernel(self, h: int):
        est = self.estimator
        lags = self.lags
        rw, ra = self.rolling_windows, self.rolling_aggs
        cal = self.calendar
        pcov = self.past_covariates or []
        fcov = self.future_covariates or []
        cov_lags = self.past_covariate_lags or self.lags
        idc, tc, yc = self.id_col, self.time_col, self.target_col
        feat_cols = list(self.feat_cols)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            if "__role" in pdf.columns:
                fut_rows = pdf[pdf["__role"] == "future"]
                pdf = pdf[pdf["__role"] == "hist"]
            else:
                fut_rows = pdf.iloc[0:0]
            pdf = pdf.sort_values(tc)
            if not len(pdf):
                return pd.DataFrame({idc: pd.Series([], dtype="str"),
                                     tc: pd.Series([], dtype="datetime64[us]"),
                                     "y_hat": pd.Series([], dtype="float64")})
            hist = list(pdf[yc].to_numpy(dtype=float))
            # past covariates are frozen at their last known values during
            # decode (ref multistep.py:225-243: buffers are never extended)
            pcov_tail = {c: pdf[c].to_numpy(dtype=float) for c in pcov}
            fcov_by_ts = {
                c: dict(zip(pd.to_datetime(fut_rows[tc]), fut_rows[c].astype(float)))
                for c in fcov
            } if len(fut_rows) else {c: {} for c in fcov}
            ts = pd.to_datetime(pdf[tc])
            freq = (ts.diff().dropna().median()) if len(ts) > 1 else pd.Timedelta(days=1)
            cur_t = ts.iloc[-1]
            out_t, out_y = [], []
            for _ in range(h):
                cur_t = cur_t + freq
                row = {}
                for k in lags:
                    row[f"{yc}_lag_{k}"] = hist[-k] if k <= len(hist) else np.nan
                for w in rw:
                    tail = np.asarray(hist[-w:], dtype=float)
                    for a in ra:
                        row[f"{yc}_rolling_{a}_{w}"] = getattr(np, a if a != "mean" else "mean")(tail) if a != "std" else tail.std(ddof=1)
                if cal:
                    row.update(_np_calendar(cur_t))
                for c in pcov:
                    buf = pcov_tail[c]
                    for k in cov_lags:
                        row[f"{c}_lag_{k}"] = buf[-k] if k <= len(buf) else (buf[0] if len(buf) else 0.0)
                for c in fcov:
                    row[c] = fcov_by_ts[c].get(cur_t, 0.0)
                x = np.array([[row[c] for c in feat_cols]], dtype=float)
                y_hat = float(est.predict(x)[0])
                hist.append(y_hat)
                out_t.append(cur_t)
                out_y.append(y_hat)
            return pd.DataFrame({idc: pdf[idc].iloc[0], tc: out_t, "y_hat": out_y})

        return kern

    def predict(self, df: DataFrame, h: int = 7, future_df: DataFrame | None = None) -> DataFrame:
        if self.feat_cols is None:
            raise RuntimeError("call fit() first")
        if h < 1:
            # reference parity (tests/test_pipeline.py:139-156): a zero
            # or negative horizon must refuse, not return an empty frame
            raise ValueError(f"h must be positive, got {h}")
        schema = f"{self.id_col} string, {self.time_col} timestamp, y_hat double"
        inp = self._decode_input(df, future_df)
        return for_each_series(inp, self._decode_kernel(h), schema, id_col=self.id_col, time_col=self.time_col)


class DirectForecaster(RecursiveForecaster):
    """One estimator per horizon step trained on shifted targets
    (multistep.py:255-450): no recursive feedback, h independent
    1-shot models."""

    def fit(self, df: DataFrame, h: int = 7) -> "DirectForecaster":
        if h < 1:
            raise ValueError(f"DirectForecaster needs h >= 1, got {h}")
        require_columns(df, self.id_col, self.time_col, self.target_col,
                        *(self.past_covariates or []), *(self.future_covariates or []))
        self.h = h
        feat_df, feat_cols = _training_frame(
            df, self.lags, self.rolling_windows, self.rolling_aggs,
            self.calendar, self.id_col, self.time_col, self.target_col,
            self.past_covariates, self.past_covariate_lags, self.future_covariates,
        )
        self.feat_cols = feat_cols
        w = FT.series_window(self.id_col, self.time_col)

        def fit_step(step: int):
            shifted = feat_df.withColumn("__target", F.lead(self.target_col, step - 1).over(w))
            # model k sees the future covariate's value AT the predicted
            # step, not at the feature row (ref multistep.py:355-360)
            for c in (self.future_covariates or []):
                shifted = shifted.withColumn(c, F.lead(c, step - 1).over(w))
            shifted = shifted.dropna()
            est = self.estimator.clone() if hasattr(self.estimator, "clone") else RidgeEstimator()
            return _fit_estimator(est, shifted, feat_cols, "__target")

        # the h per-horizon fits are independent sufficient-stats jobs —
        # submit them concurrently so their stages interleave instead of
        # h sequential barriers (the EnbPI/backtest pattern)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max(1, min(h, 8))) as pool:
            self.models = list(pool.map(fit_step, range(1, h + 1)))
        return self

    def predict(self, df: DataFrame, h: int | None = None,
                future_df: DataFrame | None = None) -> DataFrame:
        h = h or self.h
        if h < 1:
            raise ValueError(f"h must be positive, got {h}")
        models = self.models[:h]
        lags, rw, ra, cal = self.lags, self.rolling_windows, self.rolling_aggs, self.calendar
        pcov = self.past_covariates or []
        fcov = self.future_covariates or []
        cov_lags = self.past_covariate_lags or self.lags
        idc, tc, yc = self.id_col, self.time_col, self.target_col
        feat_cols = list(self.feat_cols)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            if "__role" in pdf.columns:
                fut_rows = pdf[pdf["__role"] == "future"]
                pdf = pdf[pdf["__role"] == "hist"]
            else:
                fut_rows = pdf.iloc[0:0]
            pdf = pdf.sort_values(tc)
            if not len(pdf):
                return pd.DataFrame({idc: pd.Series([], dtype="str"),
                                     tc: pd.Series([], dtype="datetime64[us]"),
                                     "y_hat": pd.Series([], dtype="float64")})
            hist = list(pdf[yc].to_numpy(dtype=float))
            fcov_by_ts = {
                c: dict(zip(pd.to_datetime(fut_rows[tc]), fut_rows[c].astype(float)))
                for c in fcov
            } if len(fut_rows) else {c: {} for c in fcov}
            ts = pd.to_datetime(pdf[tc])
            freq = (ts.diff().dropna().median()) if len(ts) > 1 else pd.Timedelta(days=1)
            row = {}
            for k in lags:
                row[f"{yc}_lag_{k}"] = hist[-k] if k <= len(hist) else np.nan
            for w_ in rw:
                tail = np.asarray(hist[-w_:], dtype=float)
                for a in ra:
                    row[f"{yc}_rolling_{a}_{w_}"] = tail.mean() if a == "mean" else tail.std(ddof=1)
            for c in pcov:
                buf = pdf[c].to_numpy(dtype=float)
                for k in cov_lags:
                    row[f"{c}_lag_{k}"] = buf[-k] if k <= len(buf) else (buf[0] if len(buf) else 0.0)
            out_t, out_y = [], []
            cur_t = ts.iloc[-1]
            for s, est in enumerate(models, start=1):
                cur_t = cur_t + freq
                r = dict(row)
                if cal:
                    r.update(_np_calendar(cur_t))
                for c in fcov:
                    r[c] = fcov_by_ts[c].get(cur_t, 0.0)
                x = np.array([[r[c] for c in feat_cols]], dtype=float)
                out_t.append(cur_t)
                out_y.append(float(est.predict(x)[0]))
            return pd.DataFrame({idc: pdf[idc].iloc[0], tc: out_t, "y_hat": out_y})

        schema = f"{idc} string, {tc} timestamp, y_hat double"
        inp = self._decode_input(df, future_df)
        return for_each_series(inp, kern, schema, id_col=idc, time_col=tc)


class ForecastPipeline(RecursiveForecaster):
    """Full pipeline: optional log target transform + the recursive
    feature pipeline (pipeline.py:209-462). ``target_transform`` in
    {None, "log"} (log1p/expm1 round trip, transforms/log.py)."""

    def __init__(self, *args, target_transform: str | None = None, **kw):
        super().__init__(*args, **kw)
        self.target_transform = target_transform

    def fit(self, df: DataFrame) -> "ForecastPipeline":
        if self.target_transform == "log":
            df = df.withColumn(self.target_col, F.log1p(F.col(self.target_col)))
        super().fit(df)
        return self

    def predict(self, df: DataFrame, h: int = 7, future_df: DataFrame | None = None) -> DataFrame:
        if self.target_transform == "log":
            df = df.withColumn(self.target_col, F.log1p(F.col(self.target_col)))
        out = super().predict(df, h, future_df)
        if self.target_transform == "log":
            out = out.withColumn("y_hat", F.expm1(F.col("y_hat")))
        return out


class GlobalForecaster(RecursiveForecaster):
    """Pooled model with ordinal id encoding as an extra feature
    (global_model.py:25-382). The encoding is DISTRIBUTED end to end:
    ``__id_code`` = row_number over the distinct-id frame (the oracle's
    ROW_NUMBER() OVER (ORDER BY unique_id) - 1), kept as a column and
    joined back for decode — no driver dict of n_series entries, no
    createDataFrame re-ship, no broadcast of an unbounded map. The
    row_number window sorts only the distinct ids (the small axis);
    the join is a plain equi-join Catalyst/AQE sizes itself."""

    def _id_code_frame(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        return (
            df.select(self.id_col).distinct()
            .withColumn(
                "__id_code",
                (F.row_number().over(Window.orderBy(self.id_col)) - 1).cast("double"),
            )
        )

    def fit(self, df: DataFrame) -> "GlobalForecaster":
        # materialize the (tiny) code frame so the encoding is FROZEN
        # at fit time: a lazy plan (even a persisted one — evicted cache
        # blocks recompute from source) would re-derive the codes at
        # predict, and one id appended to the source between fit and
        # predict would shift every later code. With the lineage cut, a
        # lost block is an error, never a silent recompute.
        self.code_df = materialize(self._id_code_frame(df))
        df2 = df.join(self.code_df, self.id_col)
        feat_df, feat_cols = _training_frame(
            df2, self.lags, self.rolling_windows, self.rolling_aggs,
            self.calendar, self.id_col, self.time_col, self.target_col,
        )
        feat_cols = [c for c in feat_cols if c != "__id_code"] + ["__id_code"]
        self.feat_cols = feat_cols
        _fit_estimator(self.estimator, feat_df, feat_cols, self.target_col)
        return self

    def predict(self, df: DataFrame, h: int = 7) -> DataFrame:
        if h < 1:
            raise ValueError(f"h must be positive, got {h}")
        idc = self.id_col
        est, feat_cols = self.estimator, list(self.feat_cols)
        lags, rw, ra, cal = self.lags, self.rolling_windows, self.rolling_aggs, self.calendar
        tc, yc = self.time_col, self.target_col
        # unseen ids decode with code -1.0, the old dict-miss default
        inp = df.join(self.code_df, idc, "left").withColumn(
            "__id_code", F.coalesce(F.col("__id_code"), F.lit(-1.0))
        )

        def kern2(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(tc)
            code = float(pdf["__id_code"].iloc[0])
            hist = list(pdf[yc].to_numpy(dtype=float))
            ts = pd.to_datetime(pdf[tc])
            freq = (ts.diff().dropna().median()) if len(ts) > 1 else pd.Timedelta(days=1)
            cur_t = ts.iloc[-1]
            out_t, out_y = [], []
            for _ in range(h):
                cur_t = cur_t + freq
                row = {"__id_code": code}
                for k in lags:
                    row[f"{yc}_lag_{k}"] = hist[-k] if k <= len(hist) else np.nan
                for w_ in rw:
                    tail = np.asarray(hist[-w_:], dtype=float)
                    for a in ra:
                        row[f"{yc}_rolling_{a}_{w_}"] = tail.mean() if a == "mean" else tail.std(ddof=1)
                if cal:
                    row.update(_np_calendar(cur_t))
                x = np.array([[row[c] for c in feat_cols]], dtype=float)
                y_hat = float(est.predict(x)[0])
                hist.append(y_hat)
                out_t.append(cur_t)
                out_y.append(y_hat)
            return pd.DataFrame({idc: pdf[idc].iloc[0], tc: out_t, "y_hat": out_y})

        schema = f"{idc} string, {tc} timestamp, y_hat double"
        return for_each_series(inp, kern2, schema, id_col=idc, time_col=tc)


class QuantileRegressor:
    """One ridge-on-pinball-proxy model per quantile via iteratively
    reweighted least squares (quantile_regression.py:19-177 surface;
    the reference delegates loss to sklearn estimators — we implement
    quantile fits directly). predict emits q_<q> columns."""

    def __init__(self, quantiles=(0.1, 0.5, 0.9), lags=(1, 7), n_irls: int = 20,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        self.quantiles = list(quantiles)
        self.lags = list(lags)
        self.n_irls = n_irls
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col

    def _fit_quantiles_distributed(
        self, feat_df: DataFrame, feat_cols: list[str]
    ) -> dict[float, np.ndarray]:
        """DISTRIBUTED IRLS: the design matrix never leaves the cluster.
        Each iteration needs only weighted sufficient statistics —
        X1'(wt·X1) and X1'(wt·y), d(d+3)/2 + 2 scalars per quantile —
        so one Spark aggregation per iteration (covering ALL quantiles
        at once) replaces the old full-panel collect; the driver solves
        (d+1)×(d+1) systems, O(d³) regardless of n.

        Trajectory stability across engines (the DuckDB oracle replays
        this loop solve-by-solve): the IRLS weight map is discontinuous
        near r = 0, so residuals are snapped to a quantization grid
        RELATIVE to the data scale — s = the decade of mean |y| (a power
        of 10, so engine-ulp differences in the mean cannot move it off
        a knife edge); on the grid the weight is locally constant in r
        and summation-order ulp noise cannot fork the trajectory.
        s·1e-3 is epsilon-smoothing at 0.1% of the target's magnitude
        at every scale (absolute 1e-3 degenerated for targets below
        ~1e-2). The 1e-8 diagonal damping keeps rank-deficient designs
        (constant series make lag columns collinear with the intercept)
        solvable — applied to the start AND every in-loop solve, like
        the oracle's `+ 1e-8` terms."""
        import math

        d = len(feat_cols)
        cols = [F.col(c).cast("double") for c in feat_cols]
        t = F.col(self.target_col).cast("double")
        qs = self.quantiles
        # scale decade + normal-equation start (quantile-independent: all
        # quantiles share it), observed by the checkpoint of the narrow
        # feature frame, so the lag-window pipeline runs once per fit.
        # Its exact row count also sizes the iteration layout below: an
        # optimizer-stats estimate overshot by ~50x on a post-window
        # projection (no column stats).
        exprs = [F.avg(F.abs(t)).alias("__m"), F.count(F.lit(1)).alias("__n"),
                 F.sum(t).alias("__ys")]
        for i in range(d):
            for j in range(i, d):
                exprs.append(F.sum(cols[i] * cols[j]).alias(f"xx_{i}_{j}"))
            exprs.append(F.sum(cols[i]).alias(f"xs_{i}"))
            exprs.append(F.sum(cols[i] * t).alias(f"xy_{i}"))
        sel_df, row = materialize(feat_df.select(*feat_cols, self.target_col), *exprs)
        if not row["__n"]:
            release(sel_df)
            raise ValueError(
                "QuantileRegressor: no training rows after lag "
                "alignment — every series is shorter than max(lags)"
            )
        m = float(row["__m"] or 0.0)
        s = 10.0 ** math.floor(math.log10(m)) if m > 0 else 1.0
        A = np.zeros((d + 1, d + 1))
        b = np.zeros(d + 1)
        for i in range(d):
            for j in range(i, d):
                A[i, j] = A[j, i] = row[f"xx_{i}_{j}"]
            A[i, d] = A[d, i] = row[f"xs_{i}"]
            b[i] = row[f"xy_{i}"]
        A[d, d] = float(row["__n"])
        b[d] = row["__ys"]
        w0 = np.linalg.solve(A + 1e-8 * np.eye(d + 1), b)
        # partitioning derived from the exact input size: (d+2) doubles
        # per row, ~64 MB per partition, capped at the core count
        n_cache_parts = max(1, min(
            feat_df.sparkSession.sparkContext.defaultParallelism,
            (int(row["__n"]) * (d + 2) * 8 + 64 * 1024 * 1024 - 1)
            // (64 * 1024 * 1024)))
        if n_cache_parts == 1 and self.n_irls > 0:
            # SINGLE-PARTITION FAST PATH: the whole IRLS loop runs
            # inside ONE python task over the one-partition frame —
            # 2 Spark jobs total instead of 1 + n_irls driver-blocking
            # aggregations, and ~0.35 s of Catalyst planning PER
            # ITERATION for the 27-aggregate expression tree disappears
            # with them. Larger inputs keep the distributed
            # per-iteration sufficient-stats path below — the knob is
            # the data size, not the cluster. Summation order (numpy
            # pairwise vs JVM partial-agg) differs only in ulps, which
            # the residual quantization grid is DESIGNED to absorb (see
            # the trajectory-stability note above); the sf0.001/sf0.01
            # oracles re-verify it.
            weights = self._irls_one_task(sel_df, feat_cols, w0, s)
            release(sel_df)
            return weights
        feat_df = materialize(sel_df.repartition(n_cache_parts))
        release(sel_df)
        weights = {q: w0 for q in qs}
        for _ in range(self.n_irls):
            exprs = []
            for qi, q in enumerate(qs):
                wq = weights[q]
                # association matches the oracle's
                # (f0·w0 + f1·w1 + ...) + intercept
                pred = cols[0] * float(wq[0])
                for i in range(1, d):
                    pred = pred + cols[i] * float(wq[i])
                pred = pred + F.lit(float(wq[d]))
                r = t - pred
                rc = F.floor(r / s * 1000 + 0.5) / 1000 * s
                wt = (
                    F.when(rc >= 0, F.lit(float(q))).otherwise(F.lit(float(1 - q)))
                    / F.greatest(F.abs(rc), F.lit(1e-3 * s))
                )
                for i in range(d):
                    for j in range(i, d):
                        exprs.append(F.sum(cols[i] * (wt * cols[j])).alias(f"q{qi}_xx_{i}_{j}"))
                    exprs.append(F.sum(cols[i] * wt).alias(f"q{qi}_xs_{i}"))
                    exprs.append(F.sum(cols[i] * (wt * t)).alias(f"q{qi}_xy_{i}"))
                exprs.append(F.sum(wt).alias(f"q{qi}_ws"))
                exprs.append(F.sum(wt * t).alias(f"q{qi}_wy"))
            row = feat_df.agg(*exprs).collect()[0]
            new_w = {}
            for qi, q in enumerate(qs):
                A = np.zeros((d + 1, d + 1))
                b = np.zeros(d + 1)
                for i in range(d):
                    for j in range(i, d):
                        A[i, j] = A[j, i] = row[f"q{qi}_xx_{i}_{j}"]
                    A[i, d] = A[d, i] = row[f"q{qi}_xs_{i}"]
                    b[i] = row[f"q{qi}_xy_{i}"]
                A[d, d] = row[f"q{qi}_ws"]
                b[d] = row[f"q{qi}_wy"]
                new_w[q] = np.linalg.solve(A + 1e-8 * np.eye(d + 1), b)
            weights = new_w
        release(feat_df)
        return weights

    def _irls_one_task(
        self, sel_df: DataFrame, feat_cols: list[str], w0: np.ndarray, s: float
    ) -> dict[float, np.ndarray]:
        """All ``n_irls`` rounds inside one python task (single-partition
        inputs only — the caller sized the frame first). Replays the
        identical arithmetic: the same pred association, the same grid
        snap ``floor(r/s·1000 + 0.5)/1000·s``, the same guarded weight
        map, the same damped solve. The per-round sufficient statistics
        are numpy sums of the exact same element-wise products the
        distributed path aggregates."""
        d = len(feat_cols)
        qs = list(self.quantiles)
        n_irls = self.n_irls
        target = self.target_col
        w0_list = [float(v) for v in w0]

        def kern(batches):
            pdfs = [p for p in batches]
            pdf = pd.concat(pdfs, ignore_index=True) if pdfs else pd.DataFrame(
                columns=[*feat_cols, target])
            X = pdf[feat_cols].to_numpy(dtype=float)
            y = pdf[target].to_numpy(dtype=float)
            W = [np.asarray(w0_list, dtype=float) for _ in qs]
            for _ in range(n_irls):
                new_w = []
                for qi, q in enumerate(qs):
                    wq = W[qi]
                    pred = X[:, 0] * float(wq[0])
                    for i in range(1, d):
                        pred = pred + X[:, i] * float(wq[i])
                    pred = pred + float(wq[d])
                    r = y - pred
                    rc = np.floor(r / s * 1000 + 0.5) / 1000 * s
                    wt = (np.where(rc >= 0, float(q), float(1 - q))
                          / np.maximum(np.abs(rc), 1e-3 * s))
                    A = np.zeros((d + 1, d + 1))
                    b = np.zeros(d + 1)
                    for i in range(d):
                        for j in range(i, d):
                            A[i, j] = A[j, i] = float(np.sum(X[:, i] * (wt * X[:, j])))
                        A[i, d] = A[d, i] = float(np.sum(X[:, i] * wt))
                        b[i] = float(np.sum(X[:, i] * (wt * y)))
                    A[d, d] = float(np.sum(wt))
                    b[d] = float(np.sum(wt * y))
                    new_w.append(np.linalg.solve(A + 1e-8 * np.eye(d + 1), b))
                W = new_w
            yield pd.DataFrame({
                "qi": np.repeat(np.arange(len(qs), dtype="int32"), d + 1),
                "i": np.tile(np.arange(d + 1, dtype="int32"), len(qs)),
                "w": np.concatenate(W) if qs else np.array([], dtype=float),
            })

        rows = (sel_df.repartition(1)
                .mapInPandas(kern, schema="qi int, i int, w double").collect())
        weights = {q: np.zeros(d + 1) for q in qs}
        for r in rows:
            weights[qs[r["qi"]]][r["i"]] = r["w"]
        return weights

    def fit(self, df: DataFrame) -> "QuantileRegressor":
        feat_df, feat_cols = _training_frame(
            df, self.lags, [], [], False, self.id_col, self.time_col, self.target_col
        )
        self.feat_cols = feat_cols
        self.weights = self._fit_quantiles_distributed(feat_df, feat_cols)
        return self

    def predict(self, df: DataFrame, h: int = 7) -> DataFrame:
        lags, qs, weights = self.lags, self.quantiles, self.weights
        idc, tc, yc = self.id_col, self.time_col, self.target_col
        med_key = min(qs, key=lambda q: abs(q - 0.5))

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(tc)
            hist = list(pdf[yc].to_numpy(dtype=float))
            ts = pd.to_datetime(pdf[tc])
            freq = (ts.diff().dropna().median()) if len(ts) > 1 else pd.Timedelta(days=1)
            cur_t = ts.iloc[-1]
            rows = []
            for _ in range(h):
                cur_t = cur_t + freq
                x = np.array([hist[-k] for k in lags] + [1.0])
                preds = {f"q_{q}": float(x @ weights[q]) for q in qs}
                hist.append(preds[f"q_{med_key}"])  # feed median back
                rows.append({idc: pdf[idc].iloc[0], tc: cur_t, **preds})
            return pd.DataFrame(rows)

        qcols = ", ".join(f"`q_{q}` double" for q in qs)
        schema = f"{idc} string, {tc} timestamp, {qcols}"
        return for_each_series(df, kern, schema, id_col=idc, time_col=tc)
