"""Measure materialized-block residency across a query sequence.

The library holds a reused frame only as a checkpoint that
``polars_ts_spark.session.materialize`` takes. This tool runs the
materialization-heavy queries back-to-back and logs, after each sample,
(a) the persistent-RDD count and storage memory LEFT BEHIND by the
query, and (b) both again after the bench's cleanup step
(``polars_ts_spark.session.free_blocks``). With the cleanup on it exits
1 if any persistent RDD survives a cleanup step; ``--no-cleanup`` only
prints, showing the blocks accumulate. Query names after the options
run only those queries.

Usage: python tools/checkpoint_residency.py [--no-cleanup] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from __spark_entry__ import queries  # noqa: E402
from polars_ts_spark.session import free_blocks, get_spark  # noqa: E402

QUERIES = [
    "minhash_lsh_pairs", "simhash_pairs", "corpus_curation",
    "corpus_curation_v2", "corpus_curation_v2_sampled", "corpus_curation_v3",
    "ngram_lm_score", "perplexity_buckets_sampled", "dsir_resample",
    "decontaminate_sharded", "conformal_interval", "stacking_forecast",
    "quantile_regression", "permutation_importance", "reconcile_bottom_up",
    "reconcile_middle_out", "reconcile_permbu",
]


def _storage(spark):
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    mem = 0
    disk = 0
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        mem += info.memSize()
        disk += info.diskSize()
    return n, mem, disk


def main() -> int:
    cleanup = "--no-cleanup" not in sys.argv
    names = [a for a in sys.argv[1:] if not a.startswith("--")] or QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("checkpoint-residency")
    qs = queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    print(f"cleanup={'ON' if cleanup else 'OFF'} sf_dir={sf_dir}")
    print(f"{'query':34s} {'rdds':>5s} {'mem_MB':>8s} {'disk_MB':>8s}"
          f" {'rdds*':>5s} {'mem_MB*':>8s}   (* = after cleanup step)")
    leaks = []
    for name in names:
        if name not in qs:
            continue
        for s in range(2):
            qs[name](spark, sf_dir).write.format(
                "noop").mode("overwrite").save()
            n0, m0, d0 = _storage(spark)
            if cleanup:
                free_blocks(spark)
            n1, m1, _ = _storage(spark)
            print(f"{name}[{s}]{'':{max(0, 31 - len(name))}s} {n0:5d}"
                  f" {m0 / 2**20:8.1f} {d0 / 2**20:8.1f} {n1:5d}"
                  f" {m1 / 2**20:8.1f}", flush=True)
            if cleanup and n1:
                leaks.append(f"{name}[{s}]")
    if leaks:
        print(f"FAIL: persistent RDDs survived cleanup after {', '.join(leaks)}")
    return 1 if leaks else 0


if __name__ == "__main__":
    sys.exit(main())
