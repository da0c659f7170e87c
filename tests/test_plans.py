"""Catalyst plan audits: the scale discipline as executable assertions.

These tests pin the physical-plan properties the 100 TB design relies
on — if a refactor silently introduces an extra shuffle, drops column
pruning, or turns a broadcast join into a sort-merge join, they fail.
Each assertion names the property it guards:

- column pruning: a 3-column panel derivation must not scan all 11
  lineitem columns (ReadSchema reaches the parquet scan);
- predicate pushdown: time filters land in PushedFilters, not a
  post-scan Filter;
- broadcast joins: small dimension sides (category stats, holiday
  tables) must broadcast, never shuffle the fact side;
- bounded exchanges: a multi-feature window plan reuses ONE
  partition-by-id exchange rather than re-shuffling per feature.
"""

from __future__ import annotations

import contextlib
import io
import os
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"test data dir {SF_DIR} absent (set SPARK_GRAFT_SF_DIR_SMALL)",
)


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _shuffle_exchanges(plan: str) -> int:
    """Count real shuffle exchanges only: 'Exchange hashpartitioning'/
    'rangepartitioning'/'RoundRobin' nodes, NOT ReusedExchange (which is
    the point of exchange reuse) and NOT BroadcastExchange."""
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning",
                     "SinglePartition")
    )


def test_panel_scan_prunes_columns(spark):
    from polars_ts_spark.sources.datasets import supplier_daily_panel

    plan = _plan(supplier_daily_panel(spark, SF_DIR))
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "l_suppkey" in scan and "l_shipdate" in scan and "l_extendedprice" in scan
    # the other 8 lineitem columns must be pruned at the scan
    for col in ("l_orderkey", "l_partkey", "l_quantity", "l_discount",
                "l_tax", "l_returnflag", "l_linestatus"):
        assert col not in scan, f"{col} not pruned from parquet scan"


def test_time_filter_pushes_down(spark):
    from polars_ts_spark.sources.datasets import load_table

    df = load_table(spark, SF_DIR, "lineitem").filter(
        F.col("l_shipdate") >= "1995-01-01"
    )
    plan = _plan(df)
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_shipdate" in pushed, "shipdate predicate did not reach the scan"


def test_target_encode_broadcasts_dimension(spark):
    from polars_ts_spark.operators.features import target_encode
    from polars_ts_spark.sources.datasets import supplier_daily_panel

    panel = supplier_daily_panel(spark, SF_DIR).withColumn(
        "cat", (F.col("unique_id").cast("int") % 3).cast("string")
    )
    plan = _plan(target_encode(panel, "cat"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan, "category stats shuffled the fact side"


def test_feature_windows_share_one_exchange(spark):
    from polars_ts_spark.operators.features import lag_features, rolling_features
    from polars_ts_spark.sources.datasets import supplier_daily_panel

    df = rolling_features(
        lag_features(supplier_daily_panel(spark, SF_DIR), [1, 7]),
        [7], ["mean", "sum"],
    )
    plan = _plan(df, "simple")
    # one shuffle for the panel groupBy (suppkey, day), one for the
    # window partitioning (suppkey); lags + rolling must NOT add more.
    # ReusedExchange / BroadcastExchange are excluded from the count.
    assert _shuffle_exchanges(plan) <= 2, plan


def test_minhash_candidates_no_cartesian_and_broadcast_skew_stats(spark):
    """The melted minhash candidate plan must stay an equi self-join on
    (band, key) — no CartesianProduct — with the oversized-bucket stats
    joined by BROADCAST (they are tiny by construction)."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.minhash_lsh_pairs(docs, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # skew-cap stats ride a broadcast


def test_simhash_candidates_single_selfjoin(spark):
    """Melted pigeonhole plan: one equi self-join, no cartesian, and no
    per-block union of four separate join stages (the union would show
    as 4+ shuffle joins)."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.simhash_pairs(docs))
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 2


def test_lsh_ann_no_cartesian(spark):
    """Multi-probe ANN generates candidates through bucket grouping
    only — the plan must never contain an all-pairs join."""
    from polars_ts_spark.operators import embedsim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedsim.lsh_ann_topk(emb, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kaboudan_shuffle_is_windows_plus_one_join(spark):
    """The distributed block shuffle must be window exprs + ONE
    positional self-join — not a driver materialization (asserted
    elsewhere) and not a join explosion."""
    from pyspark.sql import Window

    panel = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_suppkey").cast("string").alias("unique_id"),
        F.col("l_shipdate").alias("ds"),
        F.col("l_extendedprice").alias("y"),
    )
    w_t = Window.partitionBy("unique_id").orderBy("ds")
    rows = (
        panel.withColumn("__rn0", F.row_number().over(w_t) - 1)
        .withColumn("__key", F.md5(F.concat_ws(
            ":", F.lit("42"), F.col("unique_id"),
            (F.floor(F.col("__rn0") / 7) + 1).cast("string"))))
    )
    w_dest = Window.partitionBy("unique_id").orderBy("__key", "__rn0")
    src = rows.withColumn("__dest", F.row_number().over(w_dest) - 1).select(
        F.col("unique_id").alias("__sid"), F.col("y").alias("__val"), "__dest")
    shuffled = rows.select("unique_id", "ds", "__rn0").join(
        src, (F.col("unique_id") == F.col("__sid")) & (F.col("__rn0") == F.col("__dest")))
    plan = _plan(shuffled)
    assert "CartesianProduct" not in plan


def test_token_counts_pure_projection(spark):
    """token_counts is a per-row projection: zero shuffles, zero joins,
    and only the two source columns reach the parquet scan."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.token_counts(docs))
    assert _shuffle_exchanges(plan) == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" in scan and "doc_id" in scan
    # the parquet n_chars column must be pruned too — the operator
    # computes its n_chars output from length(text), not the stored col
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, f"unused column {col} not pruned from the scan"


def test_ivf_search_no_corpus_broadcast_bounded_shuffles(spark):
    """The IVF search plan: centroids are LITERALS (the corpus is never
    broadcast or nested-loop joined), the per-cell GEMM runs as a
    grouped Pandas stage whose repartition is reused by the groupBy,
    and the whole search is a bounded number of hash exchanges
    (explode->cell, candidate dedup, final rank) — no n² anywhere."""
    from polars_ts_spark.operators import embedsim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(embedsim.ivf_ann_topk(emb, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" not in plan, "corpus must never broadcast"
    assert "FlatMapGroupsInPandas" in plan or "applyInPandas" in plan
    assert _shuffle_exchanges(plan) <= 4, plan


def test_pii_scrub_pure_projection(spark):
    """pii_scrub is a per-row projection: zero shuffles, zero joins."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.pii_scrub(docs))
    assert _shuffle_exchanges(plan) == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_dup_ngram_stats_linear_plan(spark):
    """dup_ngram_stats: no join of any kind (r12 — doc-frequency is a
    count over the gram window on the per-(doc, gram) frame, replacing
    the old aggregate-then-join-back shape and its second gram pass),
    and the explode feeds a partial-aggregating groupBy (the shuffle
    carries (doc, gram) partials, not raw grams)."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.dup_ngram_stats(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "Join" not in plan, plan  # window docfreq — the join is gone
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "partial_count" in plan, plan  # map-side combine before the gram shuffle


def test_stratified_sample_single_exchange(spark):
    """stratified_sample: ONE hash exchange (the stratum window); the
    quota count rides the same window, no second pass over the input."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.stratified_sample(docs, frac=0.25, by="lang"))
    # formatted mode: node headers are "(n) Exchange"; both Window nodes
    # (rank + quota count) must share the single stratum exchange
    n_exchange = sum(ln.strip().endswith("Exchange") for ln in plan.splitlines())
    assert n_exchange == 1, plan
    assert plan.count(" Window") >= 2 or plan.count("Window (") >= 2
    assert "Join" not in plan


def test_lsh_dedup_keep_first_no_cartesian(spark):
    """lsh_dedup_keep_first: linear plan — band-key window + id join,
    no self-join of documents, no cartesian stage. The per-doc
    min-time frame is checkpointed once (r12), so the ONLY corpus
    scan left in the final plan is the signature subtree's — the old
    shape re-ran the scan + min-aggregate for both of the frame's
    consumers (three scans total)."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "ds", F.expr("timestamp_seconds(1700000000 + doc_id)"))
    plan = _plan(textops.lsh_dedup_keep_first(docs))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_sequence_pack_single_exchange(spark):
    """sequence_pack: ONE hash exchange (the shard key) feeding the
    in-shard cumulative-sum window; no joins, no Python stages, and
    only doc_id+text reach the parquet scan."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.sequence_pack(docs, window=512, n_shards=4))
    # formatted mode: node headers are "(n) Exchange"
    n_exchange = sum(ln.strip().endswith("Exchange") for ln in plan.splitlines())
    assert n_exchange == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    scan = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "text" in scan and "doc_id" in scan
    for col in ("lang", "source", "n_chars"):
        assert col not in scan, f"unused column {col} not pruned from the scan"


def test_c4_line_filters_pure_projection(spark):
    """c4_line_filters is a per-row projection: zero shuffles, zero
    joins, zero Python stages — the line array never leaves the row."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.c4_line_filters(
        docs, line_sep=" line ", min_words_per_line=3, min_lines=2,
        require_terminal_punct=False))
    assert _shuffle_exchanges(plan) == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_dsir_resample_takeordered_no_global_sort(spark):
    """dsir_resample: orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps, no global sort shuffle); the rank window runs
    over the k survivors only."""
    from polars_ts_spark.operators import textops

    w = spark.createDataFrame(
        [(i, float(i % 17)) for i in range(1000)], ["doc_id", "log_weight"])
    plan = _plan(textops.dsir_resample(w, k=50, temperature=1.0, seed=7))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan  # no global sort


def test_perplexity_buckets_sampled_no_corpus_rank_window(spark):
    """The sampled-cutoff bucketing assigns by broadcast-join
    comparison: the only rank window runs on the md5 SAMPLE (for the
    cutoffs), never over the full corpus, and the assignment join
    broadcasts the per-language cutoff table."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.perplexity_buckets_from_cutoffs(docs, sample_mod=4))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    # the corpus-wide NTILE is exactly what this op exists to avoid —
    # its only rank window is a row_number over the md5 SAMPLE
    assert "ntile" not in plan.lower(), plan


def test_sequence_pack_bins_single_exchange_kernel(spark):
    """sequence_pack_bins: one hash exchange into the per-shard
    packing kernel — no joins, and the sequential work is confined to
    the applyInPandas stage (the semantics are per-shard sequential)."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.sequence_pack_bins(docs, window=64, n_shards=4))
    n_exchange = sum(ln.strip().endswith("Exchange") for ln in plan.splitlines())
    assert n_exchange == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "FlatMapGroupsInPandas" in plan or "applyInPandas" in plan


def test_sequence_pack_manifest_single_exchange(spark):
    """The manifest writer leg stays at ONE exchange: the
    (shard, window_id) groupBy reuses the sequence_pack shard hash
    partitioning (shard is a subset of the grouping key, so rows of a
    window are already co-located), and the span explode is a pure
    generator projection — no joins anywhere."""
    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(textops.sequence_pack_manifest(docs, window=512, n_shards=4))
    n_exchange = sum(ln.strip().endswith("Exchange") for ln in plan.splitlines())
    assert n_exchange == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_sequence_pack_windows_single_exchange(spark):
    """The structured writer surface keeps the manifest leg's plan:
    ONE exchange (the (shard, window_id) groupBy reuses the
    sequence_pack shard hash partitioning), no joins, no Python —
    to_json / array_sort / collect_list are all JVM expressions, and
    the collect_list is bounded by `window` entries per row."""
    from pyspark.sql import functions as F

    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = textops.sequence_pack_windows(docs, window=512, n_shards=4)
    plan = _plan(out.select(
        "shard", "window_id", F.to_json("docs").alias("docs_json"),
        "n_tokens_filled"))
    n_exchange = sum(ln.strip().endswith("Exchange") for ln in plan.splitlines())
    assert n_exchange == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan


def test_corpus_curation_v2_sampled_no_corpus_ntile(spark):
    """The sampled-cutoff leg of the composed curation DAG
    (``use_sampled_cutoffs=True``) has no per-language corpus-wide
    NTILE rank window (the scale-killer shape when a single web
    language dominates): its only rank window runs over the md5 sample
    and the assignment is a broadcast join. The default
    (``use_sampled_cutoffs=False``) keeps the exact NTILE."""
    from pyspark.sql import functions as F

    from polars_ts_spark.operators import textops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 7 < 3).select("doc_id", "text")
    # the sampled leg is ntile-free (rank window over the sample only,
    # assignment a broadcast join)
    plan = _plan(textops.corpus_curation_v2(
        docs, reference=ref, sample_mod=4, use_sampled_cutoffs=True))
    assert "ntile" not in plan.lower(), plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    # the default is the exact NTILE — skew-stress measured it faster
    # at every tested size (500k/1M/5M single-language docs); the
    # sampled leg is the explicit opt-in for per-language doc counts
    # where a single-task rank window would spill
    default_plan = _plan(textops.corpus_curation_v2(docs))
    assert "ntile" in default_plan.lower(), default_plan
    sampled = _plan(textops.corpus_curation_v2(docs, use_sampled_cutoffs=True))
    assert "ntile" not in sampled.lower()


def test_dim_hierarchy_matches_nation_tables():
    """The reconciliation queries' nation -> region -> total constant
    equals the map in every bundled and test-data ``nation.parquet``."""
    import glob

    import pandas as pd

    from polars_ts_spark.plans.registry import _DIM_HIERARCHY

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "nation.parquet"))
                   + glob.glob(os.path.join(repo, "perfbench", "data", "*", "nation.parquet")))
    assert paths
    for path in paths:
        nation = pd.read_parquet(path, columns=["n_nationkey", "n_regionkey"])
        h = {f"n_{int(n)}": f"r_{int(r)}" for n, r in nation.itertuples(index=False)}
        h.update({f"r_{int(r)}": "total" for r in nation["n_regionkey"]})
        assert h == _DIM_HIERARCHY, path
