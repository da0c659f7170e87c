"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The full record goes to
BENCH_LOCAL.json next to this file.

Each query is forced end-to-end with a noop write (full execution, no
driver collect bottleneck) RUNS times, and the min is reported: external
load can only inflate a sample. For performance claims use the
per-workload benchmark, ``python3 perfbench/run.py`` (perfbench/README.md).
"""

from __future__ import annotations

import functools
import json
import os
import signal
import sys
import time
import traceback

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from __spark_entry__ import queries  # noqa: E402
from polars_ts_spark.session import free_blocks, get_spark  # noqa: E402

# Every query, warm-up and the quality tail draw from one wall-clock
# budget. The caller may kill the process after a timeout it does not
# publish, so the loop reserves time for the queries still to run and
# prints a partial line for the queries that did complete instead of
# dying silently.
BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "1200"))
RUNS = 2

# headline set: one per operator family plus the heavier kernels
HEADLINE = [
    # features, preprocessing, forecasting, metrics, decomposition
    "panel_base", "lag_features", "rolling_features", "calendar_features",
    "resample_weekly", "impute_ffill", "outliers_iqr", "cusum",
    "naive_forecast", "seasonal_naive_forecast", "forecast_metrics", "mase",
    "seasonal_strength_features",
    # kernel layer (applyInPandas / mapInPandas)
    "ses_forecast", "holt_winters_forecast", "mann_kendall", "acf", "pelt",
    "pairwise_dtw", "pairwise_msm", "pairwise_sbd",
    # training-data-pipeline ops
    "exact_dedup", "minhash_lsh_pairs", "simhash_pairs", "dup_ngram_stats",
    "stratified_sample", "text_stats", "corpus_curation", "cosine_topk",
    "lsh_ann_topk", "ivf_ann_topk",
    # model & pipeline layer
    "recursive_forecast", "arima_forecast", "kalman_filter",
    "conformal_interval", "reconcile_bottom_up", "event_window_agg",
    "kmedoids_dtw", "regime_detect",
    # distributed fit layer (IRLS sufficient-stats aggs, pooled id-code
    # ridge, distributed meta-fit)
    "quantile_regression", "global_forecast", "stacking_forecast",
    # curation: repetition/decontamination filters, the shard-and-OR
    # decontamination (3 corpus passes by design), bigram-LM perplexity
    # and DSIR importance weighting and selection
    "gopher_repetition", "benchmark_decontaminate", "trim_duplicate_spans",
    "domain_stats", "decontaminate_sharded", "ngram_lm_score",
    "dsir_importance", "perplexity_buckets", "dsir_resample",
    "perplexity_buckets_sampled",
    # composed curation DAGs, C4 line cleaning, sequence packing and its
    # writer legs
    "corpus_curation_v2", "sequence_pack", "c4_line_filters",
    "sequence_pack_bins", "corpus_curation_v2_sampled", "corpus_curation_v3",
    "sequence_pack_manifest", "sequence_pack_bins_manifest",
    "sequence_pack_windows",
]

# partial-line state shared with the SIGTERM handler
_PARTIAL: dict = {"timings": {}, "sf": None, "done": False}


def _contract_line(timings: dict, sf, partial_skipped: int = 0) -> str:
    """The ONE stdout JSON line a caller parses. Keep it small: callers
    may keep only a ~2000-byte stdout tail, and 61 queries at 2 decimals
    with compact separators is ~1.5 KB. Everything else goes to the
    record file."""
    rec = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 2),
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
    }
    if partial_skipped:
        rec["partial_skipped"] = partial_skipped
    return json.dumps(rec, separators=(",", ":"))


def _sigterm_rescue(signum, frame):  # pragma: no cover - external-kill path
    if not _PARTIAL["done"]:
        sys.stdout.write(
            _contract_line(_PARTIAL["timings"], _PARTIAL["sf"],
                           partial_skipped=-1) + "\n")
        sys.stdout.flush()
    os._exit(143)


@functools.cache
def _probe_buffers():
    rng = np.random.default_rng(0)
    src = rng.normal(size=16 * 1024 * 1024)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # touch destination pages off the clock
    return rng.normal(size=(1024, 1024)), src, dst


def probe_pair() -> list[float]:
    """[GEMM, bandwidth] seconds: one 1024^2 matmul (CPU contention) and
    three 128 MB copies into a warm buffer (memory-bus contention).
    Recorded once per query as a host-load diagnostic; nothing waits,
    gates or re-samples on it."""
    x, src, dst = _probe_buffers()
    t0 = time.perf_counter()
    float((x @ x)[0, 0])
    t1 = time.perf_counter()
    for _ in range(3):
        np.copyto(dst, src)
    t2 = time.perf_counter()
    return [round(t1 - t0, 3), round(t2 - t1, 3)]


def _one_sample(spark, query, sf_dir: str) -> float:
    t0 = time.perf_counter()
    query(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    # operators cache and checkpoint intermediates; drop them so they
    # don't GC-pressure later measurements
    free_blocks(spark)
    return dt


def run_queries(spark, qs: dict, names: list[str], sf_dir: str,
                remaining) -> dict:
    """Time each query in ``names`` (looked up in the registry ``qs``)
    with RUNS samples and keep the min. ``remaining()`` is the budget
    left in seconds: a query that cannot fit is skipped with all after
    it, and a query raising stops the loop the same way, with the
    exception kept in ``error``."""
    res: dict = {"queries": {}, "cold_queries": {}, "probe_sec": {},
                 "skipped_queries": [], "error": None}
    _PARTIAL["timings"] = res["queries"]
    q_wall: list[float] = []
    for idx, name in enumerate(names):
        avg_q = sum(q_wall) / len(q_wall) if q_wall else 12.0
        n_after = len(names) - idx - 1
        if remaining() < avg_q * 1.2 + 15.0:
            res["skipped_queries"] = names[idx:]
            break
        t_q = time.monotonic()
        samples: list[float] = []
        try:
            for _ in range(RUNS):
                # keep the cold sample; reserve the rest for later queries
                if samples and remaining() < (
                        samples[0] * 1.5 + avg_q * n_after + 20.0):
                    break
                samples.append(_one_sample(spark, qs[name], sf_dir))
        except Exception as exc:
            traceback.print_exc()
            res["error"] = f"{name}: {type(exc).__name__}: {exc}"[:300]
            res["skipped_queries"] = names[idx:]
            break
        res["queries"][name] = round(min(samples), 3)
        res["cold_queries"][name] = round(samples[0], 3)
        res["probe_sec"][name] = probe_pair()
        q_wall.append(time.monotonic() - t_q)
        # progress on stderr: a killed run's tail shows how far it got
        print(f"[bench] {idx + 1}/{len(names)} {name} "
              f"{res['queries'][name]:.3f}s left={remaining():.0f}s",
              file=sys.stderr, flush=True)
    return res


def _recall(exact: set, approx: set) -> float:
    return round(len(exact & approx) / len(exact), 4)


def _quality(spark, sf_dir: str) -> dict:
    """Recall of the LSH/ANN scale paths against their exact baselines
    at bench scale: fast-but-wrong is not done."""
    from polars_ts_spark.operators import embedsim, textops  # noqa: PLC0415

    quality: dict = {}
    try:
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

        def top1(df):
            return {(r["vec_id"], r["neighbor_id"]) for r in df.collect()}

        bf1 = top1(embedsim.brute_force_topk(emb, k=1))
        if bf1:
            quality["ann_recall_at_1"] = _recall(
                bf1, top1(embedsim.lsh_ann_topk(emb, k=1)))
            quality["ivf_recall_at_1"] = _recall(
                bf1, top1(embedsim.ivf_ann_topk(emb, k=1)))
        # cosine near-dup pair recall is asserted in tests/test_datapipe.py
        # at sf0.01: this corpus has no pairs above 0.8 at bench scale
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        def pairs(df):
            return {(r["doc_id_1"], r["doc_id_2"]) for r in df.collect()}

        exact_j = pairs(textops.ngram_jaccard_pairs(docs, n=3, threshold=0.8))
        if exact_j:
            quality["minhash_pair_recall"] = _recall(
                exact_j, pairs(textops.minhash_lsh_pairs(docs, threshold=0.5)))
    except Exception as exc:  # pragma: no cover - must not kill the bench
        quality["error"] = str(exc)[:200]
    return quality


def emit(res: dict, sf) -> int:
    """Print the contract line for ``res``; the exit code is non-zero
    when a query raised."""
    _PARTIAL["done"] = True
    print(_contract_line(res["queries"], sf,
                         partial_skipped=len(res["skipped_queries"])),
          flush=True)
    return 1 if res["error"] else 0


def main() -> int:
    t0 = time.monotonic()
    signal.signal(signal.SIGTERM, _sigterm_rescue)

    def remaining() -> float:
        return BUDGET_S - (time.monotonic() - t0)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    _PARTIAL["sf"] = sf
    spark = get_spark("polars-ts-spark-bench")
    qs = queries()
    names = [n for n in HEADLINE if n in qs]
    # warm the JVM + parquet footer cache with one tiny action, and the
    # Python worker pool: the first applyInPandas stage otherwise pays
    # the worker spawns + pandas/pyarrow imports on whichever kernel
    # query runs first
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    import pandas as pd  # noqa: PLC0415

    warm = spark.createDataFrame(pd.DataFrame({"k": list(range(32)), "v": [0.0] * 32}))
    warm.repartition(32, "k").groupBy("k").applyInPandas(
        lambda pdf: pdf, schema="k long, v double"
    ).write.format("noop").mode("overwrite").save()
    res = run_queries(spark, qs, names, sf_dir, remaining)
    # the quality tail costs ~30-60 s of collects; skipping it under
    # budget pressure beats losing the contract line (recall is also
    # asserted in tests/test_datapipe.py)
    quality = (_quality(spark, sf_dir) if remaining() >= 90.0
               else {"skipped": "wall-clock budget exhausted"})
    record = {
        "metric": "headline_queries_total",
        "value": round(sum(res["queries"].values()), 3),
        "unit": "sec",
        "queries": res["queries"],
        "sf": sf,
        "runs_per_query": RUNS,
        "agg": "min",
        "cold_total": round(sum(res["cold_queries"].values()), 3),
        "cold_queries": res["cold_queries"],
        "wall_budget_s": BUDGET_S,
        "wall_elapsed_s": round(BUDGET_S - remaining(), 1),
        "skipped_queries": res["skipped_queries"],
        "error": res["error"],
        "quality": quality,
        "probe_sec": res["probe_sec"],
    }
    # the full record goes to a file: a stdout tail would truncate it
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_LOCAL.json")
    try:
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    except OSError:
        pass  # a read-only checkout still gets the stdout line
    # stop Spark before printing so no JVM log line can land after the
    # contract line in a combined-stream capture
    try:
        spark.stop()
    except Exception:
        pass
    return emit(res, sf)


if __name__ == "__main__":
    sys.exit(main())
