"""Regression tests for the round tooling itself — the judge reads the
artifacts these tools write (`CORRECTNESS_LOCAL.json`,
`BENCH_LOCAL.json`), so their provenance/merge logic is part of the
evidence chain and gets the same test treatment as operators.

- merge_correctness note stamping: a merge that carried an earlier
  note verbatim misstated which entries were fresh, so every merge
  must rewrite the note.
- bench query loop: a query that raises must still leave a parseable
  partial contract line, and must not stop the caller's session.
- block ownership: ``session.free_blocks`` (the bench's between-query
  cleanup) frees every block the library materialized and nothing the
  caller persisted or cached; ``materialize`` with aggregates observes
  them in its own job.
"""

from __future__ import annotations

import json
import os
import signal
import sys
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

import bench  # noqa: E402
from __spark_entry__ import queries  # noqa: E402
from polars_ts_spark.session import collect_capped, free_blocks, materialize  # noqa: E402
from tools.explain_all import normalize  # noqa: E402
from tools.merge_correctness import infer_round, stamp_note  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def test_stamp_note_rewrites_round_and_names():
    snap = {"note": "round-10 merged snapshot ... stale text",
            "results": {}}
    stamp_note(snap, ["q_b", "q_a"], rnd=12, date="2026-08-16")
    note = snap["note"]
    assert "round-12 merged snapshot (2026-08-16)" in note
    assert "re-ran 2 queries" in note
    assert "q_a, q_b" in note            # sorted name list
    assert "round-10" not in note        # the stale text is GONE
    # singular form
    stamp_note(snap, ["solo"], rnd=13, date="2026-08-17")
    assert "re-ran 1 query at sf0.01" in snap["note"]


def test_infer_round_from_driver_artifacts(tmp_path):
    assert infer_round(str(tmp_path)) == 1
    for n in (1, 7, 11):
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text("{}")
    assert infer_round(str(tmp_path)) == 12
    # the repo itself: must be the round after the latest driver record
    repo_round = infer_round()
    recorded = [int(p.split("_r")[1].split(".")[0])
                for p in os.listdir(os.path.dirname(os.path.dirname(
                    os.path.abspath(__file__))))
                if p.startswith("CORRECTNESS_r") and p.endswith(".json")]
    assert repo_round == max(recorded) + 1


def test_bench_query_error_prints_partial_line(spark, capsys):
    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    stub = {"ok": lambda spark, sf_dir: spark.range(3), "boom": boom}
    res = bench.run_queries(spark, stub, ["ok", "boom"], "unused",
                            remaining=lambda: 1e9)
    assert res["error"].startswith("boom: RuntimeError")
    assert res["skipped_queries"] == ["boom"]
    assert bench.emit(res, 0.1) != 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(line) == {"metric", "value", "unit", "queries", "sf",
                         "partial_skipped"}
    assert line["queries"] == {"ok": round(res["queries"]["ok"], 2)}
    assert line["partial_skipped"] == 1
    # the loop never stops the session it was handed
    assert spark.range(2).count() == 2


def test_importing_bench_leaves_sigterm_alone():
    assert signal.getsignal(signal.SIGTERM) is not bench._sigterm_rescue


def _persistent_ids(spark) -> set[int]:
    # py4j wraps the java Map as a dict-like JavaMap
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def test_free_blocks_frees_only_what_materialize_took(spark):
    """Materializing from more threads than cores must lose no record:
    a lost one would leave its block behind."""
    user = spark.sparkContext.parallelize(range(8)).cache()
    user.count()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            frames = list(pool.map(lambda n: materialize(spark.range(n)),
                                   range(1, 17), timeout=300))
    finally:
        sys.setswitchinterval(switch)
    ids = {f._jdf.queryExecution().logical().rdd().id() for f in frames}
    assert ids <= _persistent_ids(spark)
    free_blocks(spark)
    left = _persistent_ids(spark)
    user.unpersist()
    assert not ids & left
    assert user.id() in left


def test_release_frees_one_checkpoint_now(spark):
    """``release`` unpersists the one frame it is given and forgets its
    id; the other checkpoints stay held until ``free_blocks``."""
    from polars_ts_spark import session

    a, b = materialize(spark.range(5)), materialize(spark.range(6))
    ida, idb = (f._jdf.queryExecution().logical().rdd().id() for f in (a, b))
    session.release(a)
    left = _persistent_ids(spark)
    assert ida not in left and idb in left
    assert all(rdd_id != ida for _, rdd_id in session._owned)
    free_blocks(spark)
    assert idb not in _persistent_ids(spark)


def test_fits_release_their_checkpoints(spark):
    """``QuantileRegressor.fit`` and the distributed
    ``permutation_importance`` free the checkpoints they take before
    they return: nothing reads them afterwards."""
    import numpy as np
    import pandas as pd

    from polars_ts_spark.functions.numutils import RidgeEstimator
    from polars_ts_spark.operators import evaluation, features
    from polars_ts_spark.operators.pipeline import QuantileRegressor

    ts = pd.date_range("2024-01-01", periods=60, freq="D")
    df = spark.createDataFrame(pd.concat([
        pd.DataFrame({"unique_id": f"s{i}", "ds": ts, "y": np.sin(np.arange(60) / 5.0) + i})
        for i in range(3)
    ]))
    free_blocks(spark)
    before = _persistent_ids(spark)
    QuantileRegressor(quantiles=(0.1, 0.9), lags=(1, 2), n_irls=3).fit(df)
    assert _persistent_ids(spark) == before
    evaluation.permutation_importance(
        features.lag_features(df, [1, 7]), ["y_lag_1", "y_lag_7"], "y",
        RidgeEstimator(), n_repeats=2, order_cols=["unique_id", "ds"])
    assert _persistent_ids(spark) == before


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_materialize_observes_aggregates_in_the_same_jobs(spark):
    """The observed row costs no job beyond the plain checkpoint, and
    equals the same aggregates run as a separate query."""
    from pyspark.sql import functions as F

    df = (spark.range(2000).withColumn("g", F.col("id") % 13)
          .groupBy("g").agg(F.sum("id").alias("s"), (F.max("id") > 1000).alias("b")))
    aggs = [F.count(F.lit(1)).alias("n"), F.sum("s").alias("total"),
            F.max("b").alias("any_b"), F.expr("percentile(s, 0.5)").alias("med"),
            F.collect_set("g").alias("gs")]
    _, plain = _jobs_in_group(spark, "materialize-plain", lambda: materialize(df))
    (out, row), observed = _jobs_in_group(
        spark, "materialize-observed", lambda: materialize(df, *aggs))
    want = df.agg(*aggs).first().asDict()
    got = row.asDict()
    assert observed == plain
    assert sorted(got.pop("gs")) == sorted(want.pop("gs")) == list(range(13))
    assert got == want
    assert out.count() == 13
    free_blocks(spark)


def test_free_blocks_keeps_a_user_cached_frame(spark):
    """free_blocks releases only what materialize took: a frame the
    caller cached stays in the cache manager with its blocks."""
    user = spark.range(50).selectExpr("id * 2 AS v").cache()
    try:
        assert user.count() == 50
        materialize(spark.range(5))
        free_blocks(spark)
        assert _cache_manager(spark).lookupCachedData(user._jdf).isDefined()
        assert user.storageLevel.useMemory
    finally:
        user.unpersist()


def test_library_ops_leave_no_blocks_after_free_blocks(spark):
    """Operators that reuse a frame go through ``materialize``: they put
    nothing in the cache manager, and free_blocks leaves no persistent
    RDD behind them."""
    import operator

    import numpy as np
    import pandas as pd

    from polars_ts_spark.functions.numutils import RidgeEstimator
    from polars_ts_spark.operators import baselines, deep_cluster, evaluation, features
    from polars_ts_spark.operators.pipeline import QuantileRegressor

    ts = pd.date_range("2024-01-01", periods=40, freq="D")
    panel = spark.createDataFrame(pd.concat(
        pd.DataFrame({"unique_id": sid, "ds": ts,
                      "y": 10.0 + k * np.sin(np.arange(40) / 3.0)})
        for k, sid in enumerate(["b1", "b2", "b3"], 1)))
    hierarchy = {"b1": "m1", "b2": "m1", "b3": "m2", "m1": "root", "m2": "root"}
    fc = baselines.naive_forecast(panel, h=3)
    mid_fc = baselines.naive_forecast(
        panel.where("unique_id != 'b3'").groupBy("ds").sum("y")
        .selectExpr("'m1' AS unique_id", "ds", "`sum(y)` AS y"), h=3)
    clf = deep_cluster.ResNetClassifier()
    # a picklable plain callable stands in for the trained net
    clf._model = operator.itemgetter((slice(None), slice(0, 2)))
    clf._classes = ["c0", "c1"]

    before = _persistent_ids(spark)
    evaluation.reconcile_bottom_up(fc, {"b1": "m1", "b2": "m1"}).collect()
    evaluation.reconcile_middle_out(mid_fc, panel, hierarchy).collect()
    evaluation.permutation_importance(
        features.lag_features(panel, [1, 2]), ["y_lag_1", "y_lag_2"], "y",
        RidgeEstimator(), order_cols=["unique_id", "ds"])
    assert len(clf.predict(panel).collect()) == 3
    QuantileRegressor(lags=(1, 2), n_irls=2).fit(panel)
    assert _cache_manager(spark).isEmpty()
    free_blocks(spark)
    assert _cache_manager(spark).isEmpty()
    assert not _persistent_ids(spark) - before


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"test data dir {SF_DIR} absent")
def test_free_blocks_leaves_nothing_a_query_created(spark):
    """corpus_curation_v3 also materializes on its LM-training thread.
    Id sets, not counts: the ContextCleaner may drop an earlier test's
    block mid-run (see test_decontaminate_no_lingering_cache)."""
    qs = queries()
    before = _persistent_ids(spark)
    for name in ("corpus_curation_v3", "quantile_regression", "global_forecast"):
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    free_blocks(spark)
    assert not _persistent_ids(spark) - before


def test_collect_capped_boundary(spark, monkeypatch):
    """``max_rows`` rows come back; one more refuses, and the driver
    received at most ``max_rows + 1`` of the frame's rows."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen = []
    orig = DataFrame.toPandas

    def spy(self):
        pdf = orig(self)
        seen.append(len(pdf))
        return pdf

    monkeypatch.setattr(DataFrame, "toPandas", spy)
    df = spark.range(100)
    assert sorted(collect_capped(df, 100, "op", "hint")["id"]) == list(range(100))
    with pytest.raises(ValueError, match=r"^op: more than 99 rows, .*driver-collect cap\. the hint$"):
        collect_capped(df, 99, "op", "the hint")
    with pytest.raises(ValueError, match="driver-collect cap"):
        collect_capped(df, 5, "op", "hint")
    assert seen == [100, 100, 6]


def test_explain_normalize_strips_build_ids():
    """Two builds of the same plan differ only in expression, RDD and
    exchange plan ids; the normalized dumps are equal and keep the rest."""
    a = ("+- Exchange hashpartitioning(unique_id#12, 200), ENSURE_REQUIREMENTS, [plan_id=41]\n"
         "   +- Scan ExistingRDD[unique_id#12,y#13L] MapPartitionsRDD[88] at localCheckpoint\n"
         "Output [2]: [unique_id#12, sum(y)#27]")
    b = ("+- Exchange hashpartitioning(unique_id#301, 200), ENSURE_REQUIREMENTS, [plan_id=7]\n"
         "   +- Scan ExistingRDD[unique_id#301,y#302L] MapPartitionsRDD[5] at localCheckpoint\n"
         "Output [2]: [unique_id#301, sum(y)#316]")
    assert normalize(a) == normalize(b)
    assert normalize(a) == (
        "+- Exchange hashpartitioning(unique_id#N, 200), ENSURE_REQUIREMENTS, [plan_id=N]\n"
        "   +- Scan ExistingRDD[unique_id#N,y#NL] MapPartitionsRDD[N] at localCheckpoint\n"
        "Output [2]: [unique_id#N, sum(y)#N]")
    # a changed operator or column still shows
    assert normalize(a) != normalize(a.replace("200)", "8)"))
