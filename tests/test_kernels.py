import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_ts_spark.operators.diagnostics import acf, hampel_outliers, ljung_box, pacf
from polars_ts_spark.operators.ets import (
    fft_forecast,
    holt_forecast,
    holt_winters_forecast,
    ses_forecast,
    ses_level,
)
from polars_ts_spark.operators.pelt import pelt, pelt_changepoints
from polars_ts_spark.operators.trend import mann_kendall, mann_kendall_stat, sens_slope, sens_slope_stat
from tests.conftest import make_panel


def fc_vals(df, sid="A"):
    return [r["y_hat"] for r in df.filter(F.col("unique_id") == sid).orderBy("ds").collect()]


# --- ETS kernels (analytic expectations, mirroring reference src/ets.rs tests)


def test_ses_constant_series_flat(constant_series):
    out = ses_forecast(constant_series, h=3, alpha=0.3)
    assert fc_vals(out) == pytest.approx([5.0, 5.0, 5.0], abs=1e-9)


def test_ses_level_matches_recursion():
    vals = np.array([1.0, 4.0, 2.0, 8.0])
    level = 1.0
    for v in vals[1:]:
        level = 0.3 * v + 0.7 * level
    assert abs(ses_level(vals, 0.3) - level) < 1e-12


def test_holt_linear_trend_exact(spark):
    # perfectly linear series: holt with any params tracks it exactly
    df = make_panel(spark, {"A": [float(2 * i) for i in range(10)]})
    out = holt_forecast(df, h=3, alpha=0.5, beta=0.5)
    got = fc_vals(out)
    assert got == pytest.approx([20.0, 22.0, 24.0], abs=1e-9)


def test_holt_winters_additive_pure_seasonal(spark):
    vals = [1.0, 3.0] * 6
    df = make_panel(spark, {"A": vals})
    out = holt_winters_forecast(df, h=4, season_length=2)
    got = fc_vals(out)
    # n=12 even: next steps continue the 1,3 alternation (approximately)
    assert got[0] == pytest.approx(1.0, abs=0.3)
    assert got[1] == pytest.approx(3.0, abs=0.3)


def test_fft_forecast_runs(spark):
    vals = [math.sin(2 * math.pi * i / 12) + i * 0.1 for i in range(48)]
    df = make_panel(spark, {"A": vals})
    out = fft_forecast(df, h=6, n_harmonics=2)
    got = fc_vals(out)
    assert len(got) == 6 and all(v is not None for v in got)


# --- trend stats


def test_mann_kendall_monotonic():
    assert mann_kendall_stat(np.arange(10.0)) == 1.0
    assert mann_kendall_stat(np.arange(10.0)[::-1]) == -1.0
    assert mann_kendall_stat(np.array([1.0, 1.0, 1.0])) == 0.0


def test_mann_kendall_mixed():
    # [1,3,2]: pairs (1,3)+1 (1,2)+1 (3,2)-1 -> S=1, norm = 1/3
    assert mann_kendall_stat(np.array([1.0, 3.0, 2.0])) == pytest.approx(1 / 3)


def test_sens_slope_linear():
    assert sens_slope_stat(2.0 * np.arange(8.0) + 1.0) == pytest.approx(2.0)


def test_trend_ops_on_panel(spark):
    df = make_panel(spark, {"A": [float(i) for i in range(10)], "B": [float(-i) for i in range(10)]})
    mk = {r["unique_id"]: r["mann_kendall"] for r in mann_kendall(df).collect()}
    assert mk == {"A": 1.0, "B": -1.0}
    ss = {r["unique_id"]: r["sens_slope"] for r in sens_slope(df).collect()}
    assert ss["A"] == pytest.approx(1.0) and ss["B"] == pytest.approx(-1.0)


# --- PELT


def test_pelt_planted_mean_shift():
    rng = np.random.default_rng(42)
    vals = np.concatenate([rng.normal(0, 1, 50), rng.normal(8, 1, 50)])
    cps = pelt_changepoints(vals, "mean")
    assert any(abs(c - 50) <= 2 for c in cps)


def test_pelt_no_change_constant():
    assert pelt_changepoints(np.ones(40), "mean") == []


def test_pelt_dataframe(spark):
    rng = np.random.default_rng(7)
    vals = list(np.concatenate([rng.normal(0, 1, 30), rng.normal(10, 1, 30)]))
    df = make_panel(spark, {"A": vals})
    out = pelt(df).collect()
    assert out and any(abs(r["changepoint_idx"] - 30) <= 2 for r in out)
    assert set(out[0].asDict()) == {"unique_id", "changepoint_idx", "ds"}


# --- diagnostics


def test_acf_lag0_is_one(spark):
    df = make_panel(spark, {"A": [1.0, 5.0, 2.0, 8.0, 3.0, 9.0]})
    rows = {r["lag"]: r for r in acf(df, max_lags=2).collect()}
    assert rows[0]["acf"] == 1.0
    assert rows[1]["ci_upper"] == pytest.approx(1.96 / math.sqrt(6))


def test_acf_alternating_negative_lag1(spark):
    df = make_panel(spark, {"A": [1.0, -1.0] * 6})
    rows = {r["lag"]: r["acf"] for r in acf(df, max_lags=1).collect()}
    assert rows[1] < -0.8


def test_pacf_lag1_equals_acf1(spark):
    df = make_panel(spark, {"A": [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0]})
    a = {r["lag"]: r["acf"] for r in acf(df, max_lags=3).collect()}
    p = {r["lag"]: r["pacf"] for r in pacf(df, max_lags=3).collect()}
    assert p[1] == pytest.approx(a[1])


def test_ljung_box_white_noise_high_p(spark):
    rng = np.random.default_rng(0)
    df = make_panel(spark, {"A": list(rng.normal(0, 1, 200))})
    r = ljung_box(df, max_lags=5).first()
    assert r["p_value"] > 0.01
    # strongly autocorrelated -> tiny p
    df2 = make_panel(spark, {"A": [math.sin(i / 3) for i in range(200)]})
    assert ljung_box(df2, max_lags=5).first()["p_value"] < 1e-6


def test_chi2_sf_against_known():
    from polars_ts_spark.operators.diagnostics import _chi2_sf
    # chi2 with k=2 is Exp(1/2): sf(x) = exp(-x/2)
    assert _chi2_sf(3.0, 2) == pytest.approx(math.exp(-1.5), rel=1e-10)


def test_hampel(spark):
    # needs within-window spread: MAD=0 (all-equal neighbors) never flags,
    # matching the reference's mad > 0 guard (outliers.py:86)
    vals = [1.0, 1.1, 0.9, 50.0, 1.05, 0.95, 1.0]
    df = make_panel(spark, {"A": vals})
    rows = [r["is_outlier"] for r in hampel_outliers(df, window=5, threshold=3.0).orderBy("ds").collect()]
    assert rows == [False, False, False, True, False, False, False]
    # all-equal series: MAD=0 -> nothing flagged
    df2 = make_panel(spark, {"A": [1.0] * 7})
    assert not any(r["is_outlier"] for r in hampel_outliers(df2, window=5).collect())


def test_native_dp_kernels_bit_identical_to_numpy(monkeypatch):
    """The C fast path (functions/native.py) must agree BIT-FOR-BIT
    with the numpy DP engine — same float op order — or the DuckDB
    oracles would silently drift. Skips where no toolchain built it."""
    import numpy as np

    from polars_ts_spark.functions import dist_kernels as K
    from polars_ts_spark.functions import native

    if not native.available():
        pytest.skip("no C toolchain; numpy path is the only path")
    rng = np.random.default_rng(5)
    cases = []
    for n, m in [(84, 84), (31, 57), (1, 9), (9, 1), (2, 2)]:
        A = rng.normal(0, 100, (23, n))
        B = rng.normal(0, 100, (23, m))
        ml = max(n, m)
        wts = 1.0 / (1.0 + np.exp(-0.05 * (np.arange(ml) - ml / 2.0)))
        cases.append((A, B, native.dtw_pairs(A, B),
                      native.msm_pairs(A, B, 1.0), native.msm_pairs(A, B, 0.1),
                      native.erp_pairs(A, B, 0.5),
                      native.twe_pairs(A, B, 0.001, 1.0),
                      1.0 - native.lcss_len_pairs(A, B, 1.0) / min(n, m),
                      native.edr_raw_pairs(A, B, 0.1) / max(n, m),
                      native.wdtw_pairs(A, B, wts),
                      native.frechet_pairs(A, B)))
    # force the pure-numpy bodies for the reference side
    for fn in ("dtw_pairs", "msm_pairs", "erp_pairs", "twe_pairs",
               "lcss_len_pairs", "edr_raw_pairs", "wdtw_pairs",
               "frechet_pairs"):
        monkeypatch.setattr(native, fn, lambda *a: None)
    for A, B, d_nat, m1_nat, m01_nat, e_nat, t_nat, l_nat, ed_nat, w_nat, f_nat in cases:
        assert np.array_equal(d_nat, K.dtw_batch(A, B))
        assert np.array_equal(m1_nat, K.msm_batch(A, B, 1.0))
        assert np.array_equal(m01_nat, K.msm_batch(A, B, 0.1))
        assert np.array_equal(e_nat, K.erp_batch(A, B, 0.5))
        assert np.array_equal(t_nat, K.twe_batch(A, B, 0.001, 1.0))
        assert np.array_equal(l_nat, K.lcss_batch(A, B, 1.0))
        assert np.array_equal(ed_nat, K.edr_batch(A, B, 0.1))
        assert np.array_equal(w_nat, K.wdtw_batch(A, B, 0.05))
        assert np.array_equal(f_nat, K.frechet_batch(A, B))


def test_native_dtw_kvec_matches_scalar_rows():
    """r13: dtw_pairs routes batches (k >= 4) to the pair-axis-
    innermost C kernel; it must agree bit-for-bit with the scalar
    per-pair kernel (the k < 4 route), including NaN propagation."""
    import numpy as np

    from polars_ts_spark.functions import native

    if not native.available():
        pytest.skip("no C toolchain; numpy path is the only path")
    rng = np.random.default_rng(7)
    for n, m in [(84, 84), (31, 57), (1, 9), (9, 1), (1, 1)]:
        A = rng.normal(0, 100, (11, n))
        B = rng.normal(0, 100, (11, m))
        A[3, 0] = np.nan
        if m > 3:
            B[5, 3] = np.nan
        batched = native.dtw_pairs(A, B)            # kvec route
        rowwise = np.concatenate(
            [native.dtw_pairs(A[i:i + 1], B[i:i + 1]) for i in range(11)])
        assert np.array_equal(batched, rowwise, equal_nan=True)


def test_native_banded_and_multi_kernels_bit_identical(monkeypatch):
    """dtw_band / dtw_itakura / dtw_multi / msm_multi route to C
    unconditionally when a toolchain exists — the 'bit-identical'
    contract the SQL oracles rest on must cover them too, not just the
    8 univariate batch kernels (round-5 ADVICE)."""
    import numpy as np

    from polars_ts_spark.functions import dist_kernels as K
    from polars_ts_spark.functions import native

    if not native.available():
        pytest.skip("no C toolchain; numpy path is the only path")
    rng = np.random.default_rng(11)
    uni = []
    for n, m in [(60, 60), (23, 41), (5, 5)]:
        A = rng.normal(0, 50, (17, n))
        B = rng.normal(0, 50, (17, m))
        w = max(7, abs(n - m))
        uni.append((A, B,
                    native.dtw_band_pairs(A, B, w),
                    native.dtw_itakura_pairs(A, B, 2.0)))
    multi = []
    for n, m, ch in [(40, 40, 3), (17, 29, 2), (4, 6, 5)]:
        A = rng.normal(0, 10, (n, ch))
        B = rng.normal(0, 10, (m, ch))
        multi.append((A, B,
                      native.dtw_multi_pair(A, B, False),
                      native.dtw_multi_pair(A, B, True),
                      native.msm_multi_pair(A, B, 1.0),
                      native.msm_multi_pair(A, B, 0.1)))
    for fn in ("dtw_band_pairs", "dtw_itakura_pairs",
               "dtw_multi_pair", "msm_multi_pair"):
        monkeypatch.setattr(native, fn, lambda *a: None)
    for A, B, band_nat, ita_nat in uni:
        assert np.array_equal(band_nat, K.dtw_sakoe_chiba_batch(A, B, 7))
        assert np.array_equal(ita_nat, K.dtw_itakura_batch(A, B, 2.0))
    for A, B, man_nat, euc_nat, m1_nat, m01_nat in multi:
        assert man_nat == K.dtw_multi(A, B, "manhattan")
        assert euc_nat == K.dtw_multi(A, B, "euclidean")
        assert m1_nat == K.msm_multi(A, B, 1.0)
        assert m01_nat == K.msm_multi(A, B, 0.1)


def test_dtw_fast_tracks_exact_dtw():
    """FastDTW (radius 3) on smooth series stays within a few percent
    of exact DTW and is exactly 0 on identical series — the statistical
    layer for the bit-exact replay oracle."""
    import numpy as np

    from polars_ts_spark.functions.dist_kernels import dtw_batch, dtw_fast
    rng = np.random.default_rng(17)
    t = np.linspace(0, 6 * np.pi, 96)
    a = np.sin(t) + 0.02 * rng.normal(size=96)
    b = np.sin(t + 0.35) + 0.02 * rng.normal(size=96)
    exact = float(dtw_batch(a[None, :], b[None, :])[0])
    fast = dtw_fast(a, b, radius=3)
    assert fast >= exact - 1e-12          # windowed DP can't beat exact
    assert fast <= 1.25 * exact + 1e-9    # and stays near it
    assert dtw_fast(a, a, radius=3) == 0.0


# --- kernel-stage runner: bucket placement and the worker preamble gate


def test_series_batches_one_bucket_per_partition(spark):
    """Each of the n id-hash buckets of ``for_series_batches`` runs on
    its own shuffle partition: no task runs two buckets while another
    runs none."""
    from polars_ts_spark.operators.kernel import for_series_batches

    panel = make_panel(spark, {f"s{i}": [float(i), 1.0] for i in range(400)})

    def ids(pdf):
        return pdf[["unique_id"]].drop_duplicates()

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (2, 4, 8, 32):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            rows = (
                for_series_batches(panel, ids, "unique_id string", "unique_id", "ds")
                .select(F.pmod(F.xxhash64("unique_id"), F.lit(n)).alias("b"),
                        F.spark_partition_id().alias("p"))
                .distinct().collect()
            )
            assert len({r["b"] for r in rows}) == n
            assert len({r["p"] for r in rows}) == n
            assert len(rows) == n, sorted((r["b"], r["p"]) for r in rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _write_zip(path, modules):
    import os
    import zipfile

    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_zip_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """The gated ``invalidate_caches`` reads an unchanged archive once
    over repeated calls, and reads a rewritten one again, after which a
    module added to it is importable."""
    import importlib.util
    import zipimport

    from polars_ts_spark._worker import _gate

    archive = tmp_path / "gate.zip"
    _write_zip(archive, {"gate_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or read_directory(p))
    importer = zipimport.zipimporter(str(archive))
    reads.clear()
    gated = _gate(zipimport.zipimporter.invalidate_caches)
    for _ in range(5):
        gated(importer)
    assert reads == [str(archive)]

    _write_zip(archive, {"gate_a": "X = 1\n", "gate_b": "Y = 2\n"})
    assert importer.find_spec("gate_b") is None
    for _ in range(3):
        gated(importer)
    assert reads == [str(archive)] * 2
    spec = importer.find_spec("gate_b")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_zip_gate_installs_only_in_a_task_and_once(monkeypatch):
    """Importing the package leaves the driver's zip importers as they
    are; inside a task the gate is installed once, and a second install
    changes nothing."""
    import types
    import zipimport

    import polars_ts_spark  # noqa: F401 — its import runs the install
    from polars_ts_spark import _worker

    original = zipimport.zipimporter.invalidate_caches
    assert not hasattr(original, "gated")
    assert _worker.gate_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is original

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(_worker, "TaskContext", types.SimpleNamespace(get=lambda: object()))
    assert _worker.gate_zip_invalidation() is True
    gated = zipimport.zipimporter.invalidate_caches
    assert gated.gated is original
    assert _worker.gate_zip_invalidation() is True
    assert zipimport.zipimporter.invalidate_caches is gated


def test_kernel_stage_leaves_zip_gate_in_reused_workers(spark):
    """A kernel defined here is pickled by value and carries no import
    of the package, yet ``for_each_series`` runs it in a worker with the
    gate installed, because the stage's entry is pickled by reference.
    A second job that never touches the package finds the gate still
    installed in those workers."""
    import pandas as pd

    from polars_ts_spark.operators.kernel import for_each_series

    def worker_state():
        import os
        import zipimport

        return os.getpid(), hasattr(zipimport.zipimporter.invalidate_caches, "gated")

    def kernel(pdf):
        pid, gated = worker_state()
        return pd.DataFrame({"pid": [pid], "gated": [gated]})

    def probe(batches):
        for _ in batches:
            pass
        pid, gated = worker_state()
        yield pd.DataFrame({"pid": [pid], "gated": [gated]})

    panel = make_panel(spark, {f"s{i}": [1.0, 2.0] for i in range(16)})
    ran = for_each_series(panel, kernel, "pid long, gated boolean", "unique_id", "ds").collect()
    assert ran and all(r["gated"] for r in ran)
    kernel_pids = {r["pid"] for r in ran}
    probes = spark.range(0, 32, 1, 32).mapInPandas(probe, "pid long, gated boolean").collect()
    reused = [r for r in probes if r["pid"] in kernel_pids]
    assert reused and all(r["gated"] for r in reused), probes
