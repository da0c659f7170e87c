"""Regression tests for the round tooling itself — the judge reads the
artifacts these tools write (`CORRECTNESS_LOCAL.json`,
`BENCH_LOCAL.json`), so their provenance/merge logic is part of the
evidence chain and gets the same test treatment as operators.

- merge_correctness note stamping: VERDICT r11 "what's wrong" #1 — the
  r11 merge carried the r10 note verbatim, misstating which entries
  were fresh. Every merge must rewrite the note.
- bench query loop: a query that raises must still leave a parseable
  partial contract line, and must not stop the caller's session.
- block ownership: ``session.free_blocks`` (the bench's between-query
  cleanup) frees every block the library materialized and nothing the
  caller persisted.
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
