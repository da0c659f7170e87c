import numpy as np
import pytest

from polars_ts_spark.functions import dist_kernels as K
from polars_ts_spark.operators.distance import compute_pairwise_distance, compute_pairwise_distance_multi
from tests.conftest import make_panel

A = np.array([1.0, 2.0, 3.0, 4.0])
B = np.array([1.0, 2.0, 3.0, 5.0])


# --- kernel analytic cases (mirroring reference tests/distance/*)


def test_dtw_exact_one():
    assert K.dtw(A, B) == 1.0          # reference conftest two_series
    assert K.dtw(A, A) == 0.0


def test_dtw_symmetry():
    rng = np.random.default_rng(1)
    x, y = rng.normal(size=20), rng.normal(size=25)
    assert K.dtw(x, y) == pytest.approx(K.dtw(y, x))


def test_dtw_vs_bruteforce():
    rng = np.random.default_rng(2)
    for _ in range(5):
        x, y = rng.normal(size=12), rng.normal(size=9)
        # O(nm) reference DP (independent loop impl)
        n, m = len(x), len(y)
        D = np.full((n + 1, m + 1), np.inf)
        D[0, 0] = 0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                D[i, j] = abs(x[i - 1] - y[j - 1]) + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
        assert K.dtw(x, y) == pytest.approx(D[n, m])


def test_sakoe_chiba_band():
    # wide band == unconstrained
    rng = np.random.default_rng(3)
    x, y = rng.normal(size=15), rng.normal(size=15)
    assert K.dtw_sakoe_chiba(x, y, window=15) == pytest.approx(K.dtw(x, y))
    # tight band >= unconstrained
    assert K.dtw_sakoe_chiba(x, y, window=1) >= K.dtw(x, y) - 1e-12


def test_itakura_constrained_ge_unconstrained():
    rng = np.random.default_rng(4)
    x, y = rng.normal(size=16), rng.normal(size=16)
    assert K.dtw_itakura(x, y, 2.0) >= K.dtw(x, y) - 1e-12


def test_fast_dtw_close_to_exact():
    rng = np.random.default_rng(5)
    x = np.cumsum(rng.normal(size=64))
    y = np.cumsum(rng.normal(size=64))
    exact, fast = K.dtw(x, y), K.dtw_fast(x, y, radius=5)
    assert fast >= exact - 1e-9
    assert fast <= exact * 1.2 + 1e-9


def test_ddtw_short_series_inf():
    assert K.ddtw(np.array([1.0, 2.0]), A) == np.inf
    # constant slope -> zero derivative distance
    assert K.ddtw(np.arange(10.0), 5 + np.arange(10.0)) == pytest.approx(0.0)


def test_wdtw_zero_for_identical():
    assert K.wdtw(A, A) == pytest.approx(0.0)
    assert K.wdtw(A, B) > 0


def test_msm_identical_and_known():
    assert K.msm(A, A) == 0.0
    # single move at the end: |4-5| = 1 -> msm = 1
    assert K.msm(A, B) == 1.0


def test_erp_gap_zero_is_l1_for_identical_alignment():
    assert K.erp(A, A) == 0.0
    assert K.erp(A, B) == 1.0


def test_lcss_identical_zero():
    assert K.lcss(A, A, epsilon=0.1) == 0.0
    far = np.array([100.0, 200.0, 300.0, 400.0])
    assert K.lcss(A, far, epsilon=0.1) == 1.0


def test_edr():
    assert K.edr(A, A, 0.1) == 0.0
    assert K.edr(A, B, 0.1) == pytest.approx(0.25)  # one substitution / 4


def test_twe_identical_zero():
    assert K.twe(A, A) == pytest.approx(0.0)
    assert K.twe(A, B) > 0


def test_sbd_range_and_identical():
    assert K.sbd(A, A) == pytest.approx(0.0, abs=1e-12)
    # anti-correlated at lag 0, but max NCC scans all lags -> in (1, 2]
    anti = -A
    assert 1.0 < K.sbd(A, anti) <= 2.0
    rng = np.random.default_rng(6)
    x, y = rng.normal(size=30), rng.normal(size=40)
    d = K.sbd(x, y)
    assert 0.0 <= d <= 2.0


def test_sbd_matches_direct():
    rng = np.random.default_rng(7)
    x, y = rng.normal(size=13), rng.normal(size=9)
    # direct O(nm) cross-correlation
    n, m = len(x), len(y)
    denom = np.linalg.norm(x) * np.linalg.norm(y)
    best = -np.inf
    for shift in range(-(m - 1), n):
        s = sum(x[i] * y[i - shift] for i in range(n) if 0 <= i - shift < m)
        best = max(best, s / denom)
    assert K.sbd(x, y) == pytest.approx(1.0 - best)


def test_frechet():
    assert K.frechet(A, A) == 0.0
    assert K.frechet(A, B) == 1.0  # max pointwise on aligned path


def test_multivariate_reduces_to_univariate():
    x, y = A.reshape(-1, 1), B.reshape(-1, 1)
    assert K.dtw_multi(x, y) == pytest.approx(K.dtw(A, B))
    assert K.msm_multi(x, y) == pytest.approx(K.msm(A, B))


# --- Spark operator


def test_pairwise_two_series(two_series):
    out = compute_pairwise_distance(two_series, method="dtw").collect()
    assert len(out) == 1
    r = out[0]
    assert {r["id_1"], r["id_2"]} == {"A", "B"} and r["dtw"] == 1.0
    assert r["id_1"] < r["id_2"]  # symmetric dedup keeps one order


def test_pairwise_single_series_empty(single_series):
    assert compute_pairwise_distance(single_series, method="dtw").count() == 0


def test_pairwise_identical_zero(identical_series):
    r = compute_pairwise_distance(identical_series, method="msm").first()
    assert r["msm"] == 0.0


def test_pairwise_int_id_dtype_preserved(spark):
    import datetime as dt
    rows = [(i, dt.datetime(2024, 1, 1 + j), float(i + j)) for i in (1, 2) for j in range(4)]
    df = spark.createDataFrame(rows, "unique_id long, ds timestamp, y double")
    out = compute_pairwise_distance(df, method="dtw")
    assert dict(out.dtypes)["id_1"] == "bigint"


def test_pairwise_two_frames_no_dedup_when_disjoint(spark, two_series):
    df2 = two_series.withColumn("unique_id", F_concat_c(two_series))
    out = compute_pairwise_distance(two_series, df2, method="dtw")
    # disjoint ids: 2 x 2 = 4 pairs, no dedup
    assert out.count() == 4


@pytest.mark.parametrize("pairwise", [compute_pairwise_distance, compute_pairwise_distance_multi])
def test_pairwise_validates_df2_columns(two_series, pairwise):
    """A second frame missing the value column raises the library's
    KeyError up front, like a bad first frame — not a Spark analysis
    error from the grouped-array aggregate."""
    with pytest.raises(KeyError, match="'y'"):
        pairwise(two_series, two_series.drop("y"))


def F_concat_c(df):
    from pyspark.sql import functions as F
    return F.concat(F.col("unique_id"), F.lit("_x"))


def test_pairwise_multi(spark):
    import datetime as dt
    rows = [("A", dt.datetime(2024, 1, 1 + j), float(j), float(j * 2)) for j in range(4)]
    rows += [("B", dt.datetime(2024, 1, 1 + j), float(j + 1), float(j * 2)) for j in range(4)]
    df = spark.createDataFrame(rows, "unique_id string, ds timestamp, dim_0 double, dim_1 double")
    r = compute_pairwise_distance_multi(df, method="dtw_multi").first()
    assert r["dtw_multi"] > 0


@pytest.fixture
def overlapping(spark):
    """Two panels sharing ids B, C, D (with different values in each),
    mixed series lengths, enough series to fill every grid cell."""
    rng = np.random.default_rng(7)
    s1 = {sid: rng.normal(size=5 + i % 3).round(3) for i, sid in enumerate("ABCDEFGH")}
    s2 = {sid: rng.normal(size=4 + i % 2).round(3) for i, sid in enumerate("BCDXY")}
    return make_panel(spark, s1), make_panel(spark, s2), s1, s2


def _bruteforce(s1, s2, kernel):
    """Driver-side reference: every pair, minus self-pairs, and only
    id_1 < id_2 when both ids are present in both inputs."""
    return {
        (i1, i2): kernel(a, b)
        for i1, a in s1.items()
        for i2, b in s2.items()
        if i1 != i2 and not (i1 in s2 and i2 in s1 and i1 > i2)
    }


def _by_pair(frame, col):
    return {(r["id_1"], r["id_2"]): r[col] for r in frame.collect()}


@pytest.mark.parametrize("multi", [False, True], ids=["univariate", "multivariate"])
@pytest.mark.parametrize("two_inputs", [False, True], ids=["one_input", "two_inputs"])
def test_pairwise_dedup_matches_bruteforce(overlapping, two_inputs, multi):
    df1, df2, s1, s2 = overlapping
    other = df2 if two_inputs else None
    if multi:
        out = compute_pairwise_distance_multi(df1, other, method="msm_multi", value_cols=["y"])
        want = _bruteforce(s1, s2 if two_inputs else s1,
                           lambda a, b: K.msm_multi(a.reshape(-1, 1), b.reshape(-1, 1)))
    else:
        out = compute_pairwise_distance(df1, other, method="msm")
        want = _bruteforce(s1, s2 if two_inputs else s1, K.msm)
    got = _by_pair(out, out.columns[2])
    assert got.keys() == want.keys()
    assert got == pytest.approx(want)


@pytest.mark.parametrize("two_inputs", [False, True], ids=["one_input", "two_inputs"])
def test_pairwise_no_driver_materialization(overlapping, monkeypatch, two_inputs):
    """Building and running the query collects nothing to the driver
    and broadcasts nothing from it."""
    from pyspark import SparkContext
    from pyspark.sql import DataFrame as SDF

    df1, df2 = overlapping[:2]

    def poisoned(name):
        def fail(*_args, **_kwargs):
            raise AssertionError(f"pairwise query called {name}")
        return fail

    for name in ("collect", "first", "toPandas"):
        monkeypatch.setattr(SDF, name, poisoned(f"DataFrame.{name}"))
    monkeypatch.setattr(SparkContext, "broadcast", poisoned("SparkContext.broadcast"))
    out = compute_pairwise_distance(df1, df2 if two_inputs else None, method="msm")
    out.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize("two_inputs", [False, True], ids=["one_input", "two_inputs"])
def test_pairwise_plan_is_one_cogroup_grid(spark, overlapping, two_inputs):
    """One cogroup over the id-hash grid: no broadcast and no cross
    product anywhere in the executed plan, and every grid cell (one per
    shuffle partition here) computes its pairs in its own task."""
    from pyspark.sql import functions as F

    df1, df2 = overlapping[:2]
    out = compute_pairwise_distance(df1, df2 if two_inputs else None, method="dtw")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("Initial Plan")[0]
    for node in ("BroadcastExchange", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, plan
    assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
    tasks = out.select(F.spark_partition_id()).distinct().count()
    assert tasks == int(spark.conf.get("spark.sql.shuffle.partitions"))


@pytest.mark.parametrize("other", ["itself", "one_shared_id"])
def test_pairwise_multi_dedups_like_univariate(spark, overlapping, other):
    """With one channel the multivariate path keeps the same pairs and
    values as the univariate one, including the symmetric dedup."""
    df1, _, s1, _ = overlapping
    df2 = df1 if other == "itself" else make_panel(spark, {"C": s1["C"][::-1], "Z": s1["A"]})
    multi = _by_pair(
        compute_pairwise_distance_multi(df1, df2, method="dtw_multi", value_cols=["y"]), "dtw_multi"
    )
    uni = _by_pair(compute_pairwise_distance(df1, df2, method="dtw"), "dtw")
    assert multi.keys() == uni.keys()
    assert multi == pytest.approx(uni)


def test_grid_cells_land_one_per_partition(spark):
    """The cell keys hash to distinct shuffle partitions, so every grid
    cell runs as its own task."""
    from pyspark.sql import functions as F

    from polars_ts_spark.operators.kernel import _partition_labels

    for n_parts in (1, 4, 6, 32):
        labels = _partition_labels(n_parts)
        placed = (
            spark.createDataFrame([(v,) for v in labels], "v int")
            .repartition(n_parts, "v")
            .select("v", F.spark_partition_id().alias("p"))
            .collect()
        )
        assert {r["v"]: r["p"] for r in placed} == {v: p for p, v in enumerate(labels)}
