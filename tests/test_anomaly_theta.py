"""Anomaly detection, theta/SCUM forecasts, Kaboudan, EnbPI, holidays."""

import numpy as np
import pandas as pd
import pytest

from polars_ts_spark.operators import anomaly, changepoint, decomposition, features, theta
from polars_ts_spark.operators import evaluation as E


def test_isolation_forest_flags_planted_outlier():
    rng = np.random.default_rng(0)
    X = rng.normal(0, 1, (500, 2))
    X[0] = [10.0, 10.0]  # clear outlier
    f = anomaly.IsolationForest(n_trees=50).fit(X)
    s = f.score(X)
    assert s[0] > 0.6
    assert np.argmax(s) == 0
    assert s[1:].mean() < 0.55


def test_isolation_forest_operator(spark):
    rng = np.random.default_rng(1)
    ts = pd.date_range("2024-01-01", periods=200, freq="D")
    y = rng.normal(100, 1, 200)
    y[50] = 200.0
    df = spark.createDataFrame(pd.DataFrame({"unique_id": "a", "ds": ts, "y": y}))
    out = (anomaly.isolation_forest_detect(df, n_trees=50).toPandas()
           .sort_values("ds").reset_index(drop=True))
    assert bool(out["is_anomaly"].iloc[50])
    assert out["anomaly_score"].idxmax() == 50
    assert out["is_anomaly"].sum() <= 15


def test_bayesian_anomaly_scores_spike(spark):
    rng = np.random.default_rng(2)
    ts = pd.date_range("2024-01-01", periods=300, freq="D")
    y = rng.normal(0, 1, 300)
    y[150] = 15.0
    df = spark.createDataFrame(pd.DataFrame({"unique_id": "a", "ds": ts, "y": y}))
    out = anomaly.bayesian_anomaly_score(df).toPandas().sort_values("ds").reset_index(drop=True)
    assert out["anomaly_score"].idxmax() == 150
    assert bool(out["is_anomaly"].iloc[150])


@pytest.mark.parametrize("op", [
    lambda df, **kw: changepoint.bocpd(df, hazard_rate=50.0, **kw),
    lambda df, **kw: anomaly.bayesian_anomaly_score(df, **kw),
    lambda df, **kw: decomposition.fourier_decomposition(df, period=7, n_harmonics=2, **kw),
], ids=["bocpd", "bayesian_anomaly_score", "fourier_decomposition"])
def test_per_series_ops_honor_renamed_columns(spark, op):
    """Run on a panel whose id and time columns are named ``sid`` and
    ``when``, each op gives its default-name output. The rows arrive
    out of time order, so a kernel that sorted or read the wrong column
    would differ."""
    rng = np.random.default_rng(5)
    ts = pd.date_range("2024-01-01", periods=60, freq="D")
    pdf = pd.concat(
        pd.DataFrame({"unique_id": sid, "ds": ts,
                      "y": rng.normal(0, 1, 60) + np.where(np.arange(60) > 30, 4.0, 0.0)})
        for sid in ("a", "b")).sample(frac=1.0, random_state=3)
    df = spark.createDataFrame(pdf)
    renamed = df.withColumnRenamed("unique_id", "sid").withColumnRenamed("ds", "when")
    want = op(df).toPandas()
    got = (op(renamed, id_col="sid", time_col="when").toPandas()
           .rename(columns={"sid": "unique_id", "when": "ds"}))
    key = ["unique_id", "ds"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True))


def test_theta_extrapolates_trend(spark):
    ts = pd.date_range("2024-01-01", periods=80, freq="D")
    df = spark.createDataFrame(pd.DataFrame({
        "unique_id": "a", "ds": ts, "y": 10.0 + 2.0 * np.arange(80)}))
    out = theta.theta_forecast(df, h=3).toPandas().sort_values("ds")
    # theta on a pure line: trend line exact, SES flat -> average has
    # half the slope but starts near the last value
    assert out["y_hat"].iloc[0] > 160
    scum = theta.scum_forecast(df, h=3).toPandas()
    assert len(scum) == 3 and np.isfinite(scum["y_hat"]).all()


def test_dot_beats_fixed_theta_on_trend():
    from polars_ts_spark.operators.theta import dot_forecast_series, theta_forecast_series
    y = 2.0 + 1.5 * np.arange(60)
    truth = 2.0 + 1.5 * np.arange(60, 63)
    dot_err = np.abs(dot_forecast_series(y, 3) - truth).mean()
    fixed_err = np.abs(theta_forecast_series(y, 3) - truth).mean()
    assert dot_err < fixed_err  # optimized theta adapts toward the trend


def test_auto_ets_selects_seasonal_model():
    from polars_ts_spark.operators.ets import auto_ets_series
    pat = np.array([0.0, 10.0, 2.0, 8.0])
    y = np.tile(pat, 12) + 0.1 * np.arange(48)
    fc = auto_ets_series(y, 4, season_length=4)
    expected = pat + 0.1 * np.arange(48, 52)
    assert np.abs(fc - expected).max() < 1.5  # HW continues the pattern


def test_ces_tracks_constant_and_trend():
    from polars_ts_spark.operators.ets import ces_series
    assert np.allclose(ces_series(np.full(30, 5.0), 3), 5.0, atol=1e-6)
    fc = ces_series(1.0 * np.arange(50), 3)
    assert np.all(np.isfinite(fc)) and fc[0] > 40


def test_kaboudan_high_for_predictable(spark):
    ts = pd.date_range("2024-01-01", periods=100, freq="D")
    rng = np.random.default_rng(3)
    rows = [
        pd.DataFrame({"unique_id": "line", "ds": ts, "y": 1.0 * np.arange(100)}),
        pd.DataFrame({"unique_id": "noise", "ds": ts, "y": rng.normal(0, 1, 100)}),
    ]
    df = spark.createDataFrame(pd.concat(rows))

    def model(train, h):
        from polars_ts_spark.operators.pipeline import RecursiveForecaster
        return RecursiveForecaster(lags=[1, 2]).fit(train).predict(train, h)

    out = E.kaboudan_metric(df, model, horizon=7, block_size=7).set_index("unique_id")
    assert out.loc["line", "kaboudan"] > 0.9   # perfectly predictable
    assert out.loc["line", "kaboudan"] > out.loc["noise", "kaboudan"]


def test_metrics_never_materialize_full_panel(spark, monkeypatch):
    """Plan audit (VERDICT r4 #1): kaboudan_metric and
    permutation_importance must not collect the training panel to the
    driver — every toPandas/collect they trigger is bounded by the
    series axis, the timestamp axis, or fit_cap, never the row count."""
    from polars_ts_spark.functions.numutils import RidgeEstimator
    from polars_ts_spark.operators import baselines, features

    n_rows = 4 * 100
    ts = pd.date_range("2024-01-01", periods=100, freq="D")
    df = spark.createDataFrame(pd.concat([
        pd.DataFrame({"unique_id": f"s{i}", "ds": ts,
                      "y": np.sin(np.arange(100) / 7.0) * 10 + i})
        for i in range(4)
    ]))
    sizes: list[int] = []
    cls = type(df)  # Spark 4: the concrete classic DataFrame, not the ABC
    real_tp, real_c = cls.toPandas, cls.collect
    monkeypatch.setattr(cls, "toPandas",
                        lambda self: (p := real_tp(self), sizes.append(len(p)))[0])
    monkeypatch.setattr(cls, "collect",
                        lambda self: (r := real_c(self), sizes.append(len(r)))[0])

    E.kaboudan_metric(df, lambda tr, h: baselines.naive_forecast(tr, h=h), horizon=7)
    feats = features.lag_features(df, [1, 7])
    E.permutation_importance(feats, ["y_lag_1", "y_lag_7"], "y", RidgeEstimator(),
                             order_cols=["unique_id", "ds"], fit_cap=50)
    assert sizes and max(sizes) < n_rows // 2, sizes


def test_enbpi_intervals_cover(spark):
    from polars_ts_spark.operators.pipeline import RecursiveForecaster
    ts = pd.date_range("2024-01-01", periods=100, freq="D")
    rng = np.random.default_rng(4)
    df = spark.createDataFrame(pd.DataFrame({
        "unique_id": "a", "ds": ts, "y": 50 + np.arange(100) + rng.normal(0, 1, 100)}))
    m = E.EnbPI(lambda: RecursiveForecaster(lags=[1, 2]), n_bootstraps=4).fit(df, holdout=7)
    out = m.predict_interval(df, h=3).toPandas()
    assert (out["y_hat_lower"] <= out["y_hat"]).all()
    assert (out["y_hat"] <= out["y_hat_upper"]).all()
    n0 = len(m.residuals)
    m.update(10.0, 9.0)
    assert len(m.residuals) == n0 + 1


def test_holiday_features(spark):
    ts = pd.to_datetime(["2024-01-01", "2024-07-03", "2024-07-04", "2024-12-25"])
    df = spark.createDataFrame(pd.DataFrame({"unique_id": "a", "ds": ts, "y": 1.0}))
    out = features.holiday_features(df, "US").toPandas().sort_values("ds").reset_index(drop=True)
    assert list(out["is_holiday"]) == [True, False, True, True]
    assert out["days_to_holiday"].iloc[1] == 1      # Jul 3 -> Jul 4
    assert out["days_since_holiday"].iloc[1] == 14  # Jul 3 <- Juneteenth


def test_holiday_calendar_rules():
    import datetime as dt

    # computus: known Easter Sundays
    assert features._easter(2024) == dt.date(2024, 3, 31)
    assert features._easter(2025) == dt.date(2025, 4, 20)
    assert features._easter(1997) == dt.date(1997, 3, 30)
    us24 = set(features.holiday_calendar("US", [2024]))
    assert dt.date(2024, 11, 28) in us24   # Thanksgiving: 4th Thu Nov
    assert dt.date(2024, 5, 27) in us24    # Memorial Day: last Mon May
    assert dt.date(2024, 1, 15) in us24    # MLK: 3rd Mon Jan
    de24 = set(features.holiday_calendar("DE", [2024]))
    assert dt.date(2024, 3, 29) in de24    # Good Friday
    assert dt.date(2024, 4, 1) in de24     # Easter Monday
    assert dt.date(2024, 5, 9) in de24     # Ascension
    gb25 = set(features.holiday_calendar("GB", [2025]))
    assert dt.date(2025, 5, 5) in gb25     # early May bank holiday
    assert dt.date(2025, 8, 25) in gb25    # summer bank holiday
    with pytest.raises(ValueError):
        features.holiday_calendar("XX", [2024])
