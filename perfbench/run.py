"""spark-ts benchmark: a closed loop of registered queries on local[nproc].

One client thread runs one query at a time from ``__spark_entry__.queries()``
and forces it with a noop write. A run is: set-up, one cold pass (every
query of the workload once, each output checked against its recorded
digest outside the timed region), then about ``--seconds`` of warm
passes (see ``WorkloadRun.run``). The seed permutes the query order of
every pass and seeds the kernel micro-inputs; the data is the bundled
copy of the sf0.01 test tables and never changes.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the
separate traced run: it alternates untraced and traced warm passes,
reads each traced query's jobs and stages from the local Spark UI,
and prints the per-layer metrics; its spans go to
``.perfbench/out/trace-<workload>-seed<seed>.json``.

Usage (from the checkout root):
    python3 perfbench/run.py --workload panel_window --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12     # every workload
    python3 perfbench/run.py --workload all --smoke --seconds 1       # sf0.001 smoke

The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import (DATA, HERE, Workspace, free_blocks, missing_inputs,  # noqa: E402
                     process_age_s, residency, shutdown, start_session, tree_hwm_mb)
from workloads import WORKLOADS  # noqa: E402

# end-to-end metrics of the JSON line; cold_pass_s and fail_ratio are
# printed as lines only (see README.md)
E2E_UNITS = {"pass_s": "s", "query_geomean_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
PRINTED_UNITS = {"cold_pass_s": "s", "fail_ratio": "ratio"}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "job_s": "s",
               "driver_gap_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
               "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
               "spill_mb": "MB"}
SPAN_TOLERANCE = 0.05
LAYER_UNITS = {
    "session.start_s": "s", "session.worker_warm_s": "s", "native.build_s": "s",
    "native.dtw_cells_per_s": "cells/s", "native.msm_cells_per_s": "cells/s",
    "sources.supplier_panel_s": "s", "sources.event_panel_s": "s",
    "sources.documents_s": "s",
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    "materialize.rdds_left": "count", "materialize.storage_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.span_mismatch": "ratio",
}


class WorkloadRun:
    """The passes of one workload inside a started session."""

    def __init__(self, spark, name: str, data_dir: str, expected: dict,
                 seed: int, ui=None, log=None, run_span=None):
        from __spark_entry__ import queries

        self.spark, self.name, self.data_dir = spark, name, data_dir
        self.expected = expected
        self.attempted = self.failed = 0
        self.queries = WORKLOADS[name]["queries"]
        self.fns = queries()
        self.rng = random.Random(f"{seed}/{name}")
        self.ui, self.log = ui, log
        self.span = None
        if log is not None:
            self.span = log.add("workload", name, time.time(), None, run_span)
        self.passes: list[dict] = []
        self.peak_rss_mb = 0.0

    def _query(self, q: str, group: str, check: bool) -> float:
        sc = self.spark.sparkContext
        if self.ui is not None:
            sc.setJobGroup(group, group)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.fns[q](self.spark, self.data_dir)
            df.write.format("noop").mode("overwrite").save()
            ok = True
        except Exception:
            df, ok = None, False
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        if self.ui is not None:
            sc.setJobGroup(f"{group}/after", "outside the timed span")
        if ok and check:
            from digest import digest

            got = digest(df.toPandas())
            ok = got == {k: self.expected[q][k] for k in ("rows", "sha256")}
            if not ok:
                print(f"[perfbench] {q}: output {got} != expected {self.expected[q]}",
                      file=sys.stderr)
        if not ok:
            self.failed += 1
        return dt

    def run_pass(self, kind: str, traced: bool = False) -> dict:
        """One pass of every query in a seeded order; ``kind`` is
        ``cold`` (outputs checked), ``warm`` or ``traced``."""
        from spans import attribute

        idx = len(self.passes)
        order = self.rng.sample(self.queries, len(self.queries))
        p = {"kind": kind, "order": order, "s": {}, "rdds": 0, "storage_mb": 0.0}
        wall0 = time.time()
        windows = {}
        for q in order:
            group = f"{self.name}/{q}/{idx}"
            t0 = time.time()
            p["s"][q] = self._query(q, group, check=kind == "cold")
            windows[q] = (group, t0, t0 + p["s"][q])
            rdds, mb = residency(self.spark)
            p["rdds"] += rdds
            p["storage_mb"] += mb
            free_blocks(self.spark)
            self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb())
        p["total_s"] = sum(p["s"].values())
        if traced:
            jobs, stages = self.ui.settled([g for g, _, _ in windows.values()])
            pspan = self.log.add("pass", f"{idx} {kind}", wall0, time.time(), self.span)
            p["layers"] = {}
            for q, (group, t0, t1) in windows.items():
                qspan = self.log.add("query", q, t0, t1, pspan, group=group)
                m = attribute(self.log, qspan, group, t0, t1, jobs, stages,
                              self.ui.group_jobs(group))
                p["layers"][q] = m
                # the job union plus the driver gap must give the wall
                # time within 5%, and every job of the group must be found
                if m["outside_s"] > SPAN_TOLERANCE * m["wall_s"] or m["missing_jobs"]:
                    print(f"[perfbench] {group}: jobs overhang the span by "
                          f"{m['outside_s']:.3f} s of {m['wall_s']:.3f} s, "
                          f"{int(m['missing_jobs'])} jobs missing", file=sys.stderr)
                    self.failed += 1
        self.passes.append(p)
        return p

    def run(self, seconds: float, traced: bool) -> None:
        """Cold pass, then warm passes worth about ``seconds``. Their number
        comes from ``seconds`` and the workload's nominal warm pass size,
        not from the clock, so every run of a workload does the same work
        however fast it goes. A traced run makes as many passes, at least
        three, and traces every second one, so untraced passes bracket
        each traced one."""
        self.run_pass("cold")
        n = max(1, round(seconds / WORKLOADS[self.name]["pass_s"]))
        for i in range(max(3, n) if traced else n):
            if traced and i % 2:
                self.run_pass("traced", traced=True)
            else:
                self.run_pass("warm")
        if self.log is not None:
            self.log.spans[self.span]["end"] = time.time()

    def e2e(self) -> dict[str, float]:
        warm = [p for p in self.passes if p["kind"] == "warm"]
        per_q = [statistics.median(p["s"][q] for p in warm) for q in self.queries]
        return {
            "pass_s": statistics.median(p["total_s"] for p in warm),
            "query_geomean_s": math.exp(statistics.fmean(math.log(s) for s in per_q)),
            "peak_rss_mb": self.peak_rss_mb,
        }

    def layers(self) -> dict[str, float]:
        """Per-pass sums over the workload's queries, median over passes."""
        warm = [p for p in self.passes if p["kind"] != "cold"]
        traced = [p for p in self.passes if p["kind"] == "traced"]
        untraced = [p for p in self.passes if p["kind"] == "warm"]
        out = {}
        for k in SPARK_UNITS:
            out[f"spark.{k}"] = statistics.median(
                sum(m[k] for m in p["layers"].values()) for p in traced)
        out["materialize.rdds_left"] = statistics.median(p["rdds"] for p in warm)
        out["materialize.storage_mb"] = statistics.median(p["storage_mb"] for p in warm)
        out["trace.pass_s"] = statistics.median(p["total_s"] for p in traced)
        # the first warm pass still pays JIT warm-up, so the overhead is
        # taken against the untraced passes after it
        out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(
            p["total_s"] for p in untraced[1:])
        out["trace.span_mismatch"] = max(
            m["outside_s"] / m["wall_s"] for p in traced for m in p["layers"].values())
        return out

    def per_query(self) -> dict[str, dict[str, float]]:
        """Median over traced passes of each query's layer split."""
        traced = [p for p in self.passes if p["kind"] == "traced"]
        return {q: {k: statistics.median(p["layers"][q][k] for p in traced)
                    for k in traced[0]["layers"][q]} for q in self.queries}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run_workload(ns, data: str, expected: dict) -> tuple[dict, dict, int, int]:
    """Set up, run one workload, print its report lines; return
    ``(metrics, printed_only, attempted, failed)``."""
    traced = ns.trace == 1
    probes: dict[str, float] = {}
    native_wrong: list[str] = []

    with Workspace("run") as ws:
        spark, setup = start_session(ws, f"perfbench-{ns.workload}")
        setup_s = process_age_s()
        try:
            ui = log = run_span = None
            if traced:
                from spans import SparkUi, SpanLog

                ui, log = SparkUi(spark.sparkContext), SpanLog()
                run_span = log.add("run", ns.workload, time.time(), None, seed=ns.seed)
            r = WorkloadRun(spark, ns.workload, DATA[data], expected, ns.seed,
                            ui, log, run_span)
            r.run(ns.seconds, traced)
            if traced:
                from layers import time_native, time_sources

                rates, native_wrong = time_native(ns.seed)
                probes = {**setup, **time_sources(spark, DATA[data]), **rates}
                log.spans[run_span]["end"] = time.time()
        finally:
            shutdown(spark)

    metrics: dict[str, dict] = {}
    printed: dict[str, dict] = {}
    if traced:
        metrics.update({k: _metric(v, LAYER_UNITS[k]) for k, v in r.layers().items()})
        metrics.update({k: _metric(v, LAYER_UNITS[k]) for k, v in probes.items()})
    else:
        metrics["setup_s"] = _metric(setup_s, "s")
        metrics.update({k: _metric(v, E2E_UNITS[k]) for k, v in r.e2e().items()})
        printed["cold_pass_s"] = _metric(r.passes[0]["total_s"], PRINTED_UNITS["cold_pass_s"])
    attempted = r.attempted + (2 if traced else 0)
    failed = r.failed + len(native_wrong)
    printed["fail_ratio"] = _metric(failed / attempted, PRINTED_UNITS["fail_ratio"])

    print(f"{r.name}: {len(r.queries)} queries, {len(r.passes)} passes "
          f"(cold + {len(r.passes) - 1}), {r.failed}/{r.attempted} failed")
    if traced:
        for q, m in r.per_query().items():
            print(f"  {q:28s} {m['wall_s']:7.3f} s {int(m['jobs']):3d} jobs "
                  f"gap {m['driver_gap_s']:6.3f} s exec {m['executor_run_s']:7.3f} s "
                  f"shuffle {m['shuffle_read_mb']:6.2f} MB")
        path = os.path.join(ws.out, f"trace-{ns.workload}-seed{ns.seed}.json")
        log.dump(path, metrics=metrics, per_query=r.per_query())
        print(f"spans: {path}")
    for k in native_wrong:
        print(f"native {k} kernel output differs from the numpy path")
    return metrics, printed, attempted, failed


def _metric_line(line: str) -> tuple[str, dict] | None:
    """``(name, metric)`` of a ``<name> <value> <unit>`` report line."""
    parts = line.split()
    if len(parts) != 3:
        return None
    try:
        return parts[0], _metric(float(parts[1]), parts[2])
    except ValueError:
        return None


def run_all(ns) -> tuple[dict, dict, int, int]:
    """Each workload in its own process, so that every workload's
    ``setup_s``, ``cold_pass_s`` and ``peak_rss_mb`` are measured from a
    fresh start as in a single-workload run. Every metric is prefixed
    with its workload; ``setup_s`` is also given as the median of the
    workloads' set-ups."""
    metrics: dict[str, dict] = {}
    printed: dict[str, dict] = {}
    attempted = failed = 0
    for wl in WORKLOADS:
        child = ["--workload", wl, "--seed", str(ns.seed), "--seconds", str(ns.seconds),
                 "--trace", str(ns.trace)] + (["--smoke"] if ns.smoke else [])
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), *child],
                              stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"workload {wl} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        for line in lines[:-1]:
            named = _metric_line(line)
            if named is None:
                print(line)
            elif named[0] not in res["metrics"]:
                printed[f"{wl}.{named[0]}"] = named[1]
        metrics.update({f"{wl}.{k}": m for k, m in res["metrics"].items()})
        attempted += res["attempted"]
        failed += res["failed"]
    if ns.trace == 0:
        metrics["setup_s"] = _metric(statistics.median(
            metrics[f"{wl}.setup_s"]["value"] for wl in WORKLOADS), "s")
    return metrics, printed, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the bundled sf0.001 tables instead of sf0.01")
    ns = ap.parse_args(argv)

    data = "sf0.001" if ns.smoke else "sf0.01"
    expected_path = os.path.join(HERE, "expected", f"{data}.json")
    missing = missing_inputs(DATA[data]) + [
        p for p in [expected_path] if not os.path.isfile(p)]
    if missing:
        print("perfbench: run from a full checkout; missing " + ", ".join(missing),
              file=sys.stderr)
        return 2
    with open(expected_path) as f:
        expected = json.load(f)["queries"]

    if ns.workload == "all":
        metrics, printed, attempted, failed = run_all(ns)
    else:
        metrics, printed, attempted, failed = run_workload(ns, data, expected)
    for k, m in {**metrics, **printed}.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
