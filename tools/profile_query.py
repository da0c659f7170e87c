"""Per-job wall-clock breakdown for one or more registered queries.

Runs each named query twice (cold + warm) under the noop sink and dumps
every Spark job the run submitted — duration, stage count, task count,
description — from the local UI REST API. The job list is how a 9-second
composite query gets attributed to its stages (guide §1.1) without
eyeballing the live UI.

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from polars_ts_spark.session import get_spark  # noqa: E402


def _jobs(ui: str, app: str) -> list[dict]:
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/jobs?status=succeeded") as r:
        return json.load(r)


def main() -> None:
    # argparse (ADVICE r12): the hand-rolled --sf parse raised
    # IndexError when --sf was last and misparsed values colliding
    # with query names
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+", help="registered query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1",
                    help="testdata directory (default sf0.1)")
    ns = ap.parse_args()
    args = ns.queries
    sf_dir = ns.sf
    spark = get_spark("profile-query")
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    with urllib.request.urlopen(f"{ui}/api/v1/applications") as r:
        app = json.load(r)[0]["id"]
    qs = queries()
    # warm the JVM/worker pool once so cold-start noise doesn't land on
    # the first profiled query
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    for name in args:
        for run in ("cold", "warm"):
            before = {j["jobId"] for j in _jobs(ui, app)}
            sc.setJobDescription(f"profile:{name}:{run}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobDescription(None)
            spark.catalog.clearCache()
            time.sleep(0.3)
            jobs = [j for j in _jobs(ui, app) if j["jobId"] not in before]
            jobs.sort(key=lambda j: j["jobId"])
            print(f"\n=== {name} [{run}] total {dt:.3f}s, {len(jobs)} jobs ===")
            for j in jobs:
                t_sub = j.get("submissionTime", "")
                t_end = j.get("completionTime", "")
                try:
                    from datetime import datetime

                    fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                    secs = (datetime.strptime(t_end, fmt)
                            - datetime.strptime(t_sub, fmt)).total_seconds()
                except Exception:
                    secs = float("nan")
                print(f"  job {j['jobId']:>4} {secs:7.3f}s tasks={j['numTasks']:>4} "
                      f"stages={len(j.get('stageIds', [])):>2}  "
                      f"{(j.get('name') or '')[:90]}")
            sys.stdout.flush()


if __name__ == "__main__":
    main()
