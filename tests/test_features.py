from pyspark.sql import functions as F

from polars_ts_spark.operators.features import (
    calendar_features,
    fourier_features,
    interaction_features,
    lag_features,
    rolling_features,
    target_encode,
    time_embeddings,
)


def rows_by_id(df, *cols):
    out = {}
    for r in df.orderBy("unique_id", "ds").collect():
        out.setdefault(r["unique_id"], []).append(tuple(r[c] for c in cols))
    return out


def test_lag_features(two_series):
    out = lag_features(two_series, [1, 2])
    got = rows_by_id(out, "y", "y_lag_1", "y_lag_2")
    assert got["A"] == [(1.0, None, None), (2.0, 1.0, None), (3.0, 2.0, 1.0), (4.0, 3.0, 2.0)]
    assert got["B"][3] == (5.0, 3.0, 2.0)


def test_rolling_mean_trailing(two_series):
    out = rolling_features(two_series, [2], ["mean", "sum"], min_samples=1)
    got = rows_by_id(out, "y_rolling_mean_2", "y_rolling_sum_2")
    assert got["A"] == [(1.0, 1.0), (1.5, 3.0), (2.5, 5.0), (3.5, 7.0)]


def test_rolling_min_samples_default_nulls_partial_frames(two_series):
    out = rolling_features(two_series, [3], ["mean"])  # min_samples defaults to window
    got = rows_by_id(out, "y_rolling_mean_3")
    assert got["A"] == [(None,), (None,), (2.0,), (3.0,)]


def test_rolling_centered(two_series):
    out = rolling_features(two_series, [3], ["mean"], center=True, min_samples=1)
    got = rows_by_id(out, "y_rolling_mean_3")
    # centered window at i=0: rows [0,1] -> 1.5; i=1: [0,1,2] -> 2.0
    assert got["A"] == [(1.5,), (2.0,), (3.0,), (3.5,)]


def test_calendar_features_monday_first(spark, shifted_series):
    out = calendar_features(shifted_series, ["day_of_week", "is_weekend", "month", "year"])
    r = out.filter(F.col("ds") == "2024-01-01").first()  # 2024-01-01 is a Monday
    assert r["day_of_week"] == 1 and r["is_weekend"] == 0
    sat = out.filter(F.col("ds") == "2024-01-06").first()
    assert sat["day_of_week"] == 6 and sat["is_weekend"] == 1


def test_fourier_features(two_series):
    out = fourier_features(two_series, period=4, n_harmonics=1)
    got = rows_by_id(out, "fourier_sin_4_1", "fourier_cos_4_1")
    # t=0 -> sin 0, cos 1; t=1 -> sin(pi/2)=1, cos 0
    s, c = got["A"][1]
    assert abs(s - 1.0) < 1e-12 and abs(c) < 1e-12


def test_interaction_and_embeddings(two_series):
    out = interaction_features(two_series.withColumn("z", F.col("y") * 2), [("y", "z")])
    assert out.filter("unique_id='A'").orderBy("ds").collect()[1]["y_x_z"] == 8.0
    emb = time_embeddings(two_series, ["day_of_week"])
    mon = emb.filter(F.col("ds") == "2024-01-01").first()
    assert abs(mon["day_of_week_sin"] - 0.0) < 1e-12 and abs(mon["day_of_week_cos"] - 1.0) < 1e-12


def test_target_encode(spark, two_series):
    df = two_series.withColumn("cat", F.lit("a"))
    out = target_encode(df, "cat", smoothing=0.0)
    # single category, smoothing 0 -> encoded == global mean
    vals = [r["cat_encoded"] for r in out.collect()]
    assert all(abs(v - 2.625) < 1e-12 for v in vals)  # mean of 1,2,3,4,1,2,3,5
