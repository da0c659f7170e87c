"""Structured Streaming wrappers (SURVEY §2.18 Spark mapping + §7
Phase 5): the StreamingETS state recursion under
``applyInPandasWithState`` keyed by series id, and watermarked
event-time aggregation as the beyond-reference extension.

The reference has no watermarks or event-time windows — ordered
micro-batch partial_fit only (streaming/ets.py:96-115). Parity is the
state kernel (shared with streaming/online.py); the watermark/window
surface is Spark-native value-add for the driver's `events` stream.

Scale notes: state lives in the streaming state store (one record per
unique_id — RocksDB-backed on a real cluster); each micro-batch
shuffles only by key. The watermark bounds state for the windowed
aggregation so late events older than the threshold are dropped
instead of growing state without bound.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from polars_ts_spark.panel import ID, TARGET, TIME
from polars_ts_spark.session import collect_capped

# output of each micro-batch per key: current smoothed state
ETS_OUTPUT_SCHEMA = StructType(
    [
        StructField("unique_id", StringType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

# state tuple persisted in the state store
ETS_STATE_SCHEMA = StructType(
    [
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)


def streaming_ets_update(
    stream_df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    method: str = "holt",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Attach the ETS state recursion to a (possibly streaming)
    DataFrame grouped by series id. Works identically under
    ``readStream`` (state persisted across micro-batches by the state
    store) and in batch mode (single pass).

    Returns one row per key per micro-batch: [unique_id, level, trend,
    n_obs] — the live forecast state (ŷ_{t+h} = level + h·trend).

    On a non-streaming DataFrame the same recursion runs under plain
    applyInPandas (applyInPandasWithState is streaming-only) — one
    pass, identical output.
    """

    def _fold(level, trend, n, ys):
        for y in ys:
            if level is None:
                level, trend, n = float(y), 0.0, 1
                continue
            prev = level
            if method == "ses":
                level = alpha * y + (1 - alpha) * level
            else:
                level = alpha * y + (1 - alpha) * (level + trend)
                trend = beta * (level - prev) + (1 - beta) * trend
            n += 1
        return level, trend, n

    if not stream_df.isStreaming:
        def batch_kern(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            level, trend, n = _fold(None, 0.0, 0, pdf[target_col].astype(float))
            return pd.DataFrame(
                {"unique_id": [str(pdf[id_col].iloc[0])], "level": [level],
                 "trend": [trend], "n_obs": [n]}
            )

        return stream_df.groupBy(F.col(id_col)).applyInPandas(
            batch_kern, schema=ETS_OUTPUT_SCHEMA
        )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            level, trend, n = state.get
        else:
            level, trend, n = None, 0.0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            level, trend, n = _fold(level, trend, n, pdf[target_col].astype(float))
        if level is None:
            # same init contract as the Kalman fold: never persist a
            # 0.0 placeholder as if it were a fitted level
            return
        state.update((float(level), float(trend), int(n)))
        yield pd.DataFrame(
            {"unique_id": [key[0]], "level": [level], "trend": [trend], "n_obs": [n]}
        )

    return (
        stream_df.groupBy(F.col(id_col))
        .applyInPandasWithState(
            update,
            outputStructType=ETS_OUTPUT_SCHEMA,
            stateStructType=ETS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


KALMAN_OUTPUT_SCHEMA = StructType(
    [
        StructField("unique_id", StringType()),
        StructField("x", DoubleType()),
        StructField("p", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)

KALMAN_STATE_SCHEMA = StructType(
    [
        StructField("x", DoubleType()),
        StructField("p", DoubleType()),
        StructField("n_obs", LongType()),
    ]
)


def streaming_kalman_update(
    stream_df: DataFrame,
    q: float = 0.01,
    r: float = 1.0,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Local-level Kalman state (x, P) per series under the same
    dual-mode contract as ``streaming_ets_update``: in batch mode one
    applyInPandas pass; under ``readStream`` the identical fold runs
    in ``applyInPandasWithState`` with (x, P, n) in the state store —
    so incremental micro-batches and a single batch pass produce the
    SAME state (the StreamingKalmanFilter parity law,
    streaming/kalman.py:1-158). Returns [unique_id, x, p, n_obs]."""

    def _fold(x, P, n, ys):
        for y in ys:
            y = float(y)
            if x is None:
                x, P, n = y, 1.0, 1
                continue
            P = P + q
            S = P + r
            K = P / S
            x = x + K * (y - x)
            P = (1 - K) * P
            n += 1
        return x, P, n

    if not stream_df.isStreaming:
        def batch_kern(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(time_col)
            x, P, n = _fold(None, 1.0, 0, pdf[target_col].astype(float))
            return pd.DataFrame(
                {"unique_id": [str(pdf[id_col].iloc[0])], "x": [x],
                 "p": [P], "n_obs": [n]}
            )

        return stream_df.groupBy(F.col(id_col)).applyInPandas(
            batch_kern, schema=KALMAN_OUTPUT_SCHEMA
        )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            x, P, n = state.get
        else:
            x, P, n = None, 1.0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(time_col)
            x, P, n = _fold(x, P, n, pdf[target_col].astype(float))
        if x is None:
            # no observation folded yet: persisting a 0.0 placeholder
            # would masquerade as a real filtered state next micro-batch
            # (the x0 = y0 init contract would be silently broken)
            return
        state.update((float(x), float(P), int(n)))
        yield pd.DataFrame(
            {"unique_id": [key[0]], "x": [x], "p": [P], "n_obs": [n]}
        )

    return (
        stream_df.groupBy(F.col(id_col))
        .applyInPandasWithState(
            update,
            outputStructType=KALMAN_OUTPUT_SCHEMA,
            stateStructType=KALMAN_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def watermarked_event_counts(
    stream_df: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    time_col: str = "ds",
    id_col: str = "unique_id",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark (the
    beyond-reference extension, SURVEY §2.18): counts + sum per
    (series, window); late data beyond `watermark` is dropped and the
    state store stays bounded."""
    return (
        stream_df.withWatermark(time_col, watermark)
        .groupBy(F.col(id_col), F.window(F.col(time_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("y").alias("y_sum"),
        )
        .select(
            id_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "y_sum",
        )
    )


def tumbling_event_aggregate(
    df: DataFrame,
    window: str = "1 hour",
    time_col: str = "ds",
    id_col: str = "unique_id",
    target_col: str = "y",
) -> DataFrame:
    """Batch twin of watermarked_event_counts (same plan minus the
    watermark) — lets the correctness gate check the windowing logic
    against SQL time_bucket."""
    return (
        df.groupBy(F.col(id_col), F.window(F.col(time_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(target_col).alias("y_sum"),
        )
        .select(
            id_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "y_sum",
        )
    )


def streaming_exact_dedup(
    stream_df: DataFrame,
    watermark: str = "1 hour",
    time_col: str = "ds",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact dedup for a document stream — the LLM-pipeline
    dedup op in streaming form: md5 content fingerprint +
    ``dropDuplicatesWithinWatermark``, so duplicates arriving within the
    watermark are dropped while the state store stays BOUNDED (old
    fingerprints are evicted past the watermark — a plain
    dropDuplicates would grow state forever on an unbounded corpus).
    Which duplicate survives follows arrival order; the batch twin with
    deterministic keep-first-by-(event-time, id) semantics is
    ``textops.exact_dedup_keep_first`` (the oracle-gated query)."""
    return (
        stream_df.withColumn("fingerprint", F.md5(F.col(text_col)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
        .select(id_col, time_col, "fingerprint")
    )


def streaming_lsh_dedup_handler(
    kept_dir: str,
    seen_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    time_col: str = "ds",
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """foreachBatch handler for streaming NEAR-dup dedup — the LSH
    companion of ``streaming_exact_dedup`` (which only removes exact
    fingerprints). Per micro-batch: (1) within-batch keep-first via the
    batch operator, (2) anti-join against the band keys of all EARLIER
    batches, (3) write survivors to ``kept_dir/batch=N`` and the
    batch's band keys to ``seen_dir/batch=N`` (register-all semantics —
    identical to the batch twin ``textops.lsh_dedup_keep_first`` when
    event time is STRICTLY increasing across batch boundaries;
    within-batch ties are handled by the window's id tie-break, but a
    tie spanning two batches would resolve by batch order instead of
    id. The parity is asserted in tests/test_streaming.py on a 2-batch
    run).

    Replay-safe: outputs are PARTITIONED BY the foreachBatch batch_id
    and written with overwrite, and the seen-key read filters
    ``batch < batch_id`` — an at-least-once re-delivery of a failed
    batch overwrites its own partitions and never anti-joins the batch
    against its own keys from the prior attempt. Signatures are
    computed ONCE per batch (persisted band keys feed the keep-first
    window, the anti-join probe, and the seen-key write).

    State notes: the seen-key set is parquet here (this container has
    no transactional table format); a production deployment would keep
    it in a Delta/Iceberg table or the state store. It grows with
    distinct band keys — the LSH analogue of the exact dedup's
    fingerprint state; eviction past a watermark would bound it the
    same way ``dropDuplicatesWithinWatermark`` does.
    """
    from pyspark.errors import AnalysisException

    from polars_ts_spark.operators import textops

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # persist, not materialize: a stream has no query end to free at,
        # so each micro-batch frees its own keys before it returns
        keys = textops.minhash_band_keys(
            batch_df, num_hashes, bands, shingle_n, text_col, id_col
        ).persist()
        try:
            kept = textops.lsh_dedup_keep_first(
                batch_df, time_col=time_col, num_hashes=num_hashes,
                bands=bands, shingle_n=shingle_n,
                text_col=text_col, id_col=id_col, band_keys=keys,
            )
            try:
                # earlier batches only: replays must not see their own keys
                seen = spark.read.parquet(seen_dir).filter(F.col("batch") < batch_id)
            except AnalysisException as exc:
                # "first batch" legitimately shows up two ways: no state
                # dir at all (PATH_NOT_FOUND), or a dir holding only the
                # _temporary leftovers of a torn batch-0 write
                # (UNABLE_TO_INFER_SCHEMA — zero committed data files;
                # the replay overwrites that partition anyway). Anything
                # else is real state corruption and must fail the batch
                # loudly, not silently disable dedup.
                if not any(k in str(exc)
                           for k in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")):
                    raise
                seen = None
            if seen is not None:
                hit = (
                    keys.join(seen.select("__band", "__key"), ["__band", "__key"])
                    .select(id_col).distinct()
                )
                kept = kept.join(hit, id_col, "left_anti")
            kept.write.mode("overwrite").parquet(f"{kept_dir}/batch={batch_id}")
            keys.select("__band", "__key").distinct().write.mode("overwrite").parquet(
                f"{seen_dir}/batch={batch_id}")
        finally:
            keys.unpersist()

    return handle


def _hash60(col):
    """The repo-wide 60-bit md5-prefix hash as a column expression —
    `cast(conv(substring(md5(x),1,15),16,10) as bigint)`, the same
    device `textops.spark_hash60` uses. Computed JVM-side."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _gram_hash_arr(text_col: str, n: int):
    """60-bit md5-prefix hashes of the word ``n``-grams of
    ``text_col`` as an ``array<bigint>`` column built ENTIRELY
    Spark-side (round-9 directive #1): tokenization, gram assembly,
    and hashing all run as JVM expressions inside the streaming
    projection, so the Python kernel downstream never touches a
    string — it only searchsorts int64 arrays. NULL or too-short text
    yields an EMPTY array (the batch twins' zero-gram semantics:
    ``size(split(NULL))`` is -1, which fails the ``>= n`` gate).

    The token array is LET-BOUND via a single-element transform:
    higher-order lambdas re-evaluate operand subtrees per element, so
    an inline split inside the gram lambda re-tokenized the document
    once per gram (O(tokens²) characters). Binding the split to the
    outer lambda's variable evaluates it exactly once per row while
    staying a single Column (no caller-side projection needed)."""
    empty = F.expr("array()").cast("array<bigint>")

    def _grams(toks):
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - n + 1),
                lambda i: _hash60(F.array_join(F.slice(toks, i, n), " ")),
            ),
        ).otherwise(empty)

    return F.transform(
        F.array(F.split(F.col(text_col), " ")), _grams
    ).getItem(0)


def _segment_bounds(arrs) -> "tuple":
    """(lens, bounds) for a list of per-row int64 arrays: ``lens[i]``
    is row i's array length, ``bounds`` the flat-offset prefix sums
    (len(arrs)+1 entries) into ``np.concatenate(arrs)``."""
    import numpy as np

    lens = np.fromiter((len(a) for a in arrs), dtype="int64", count=len(arrs))
    bounds = np.zeros(len(arrs) + 1, dtype="int64")
    np.cumsum(lens, out=bounds[1:])
    return lens, bounds


def streaming_decontaminate(
    stream_df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming benchmark decontamination — the streaming twin of
    ``textops.decontaminate``: as documents arrive, flag any that share
    a word ``n``-gram with the STATIC benchmark set. A stream-static
    broadcast join needs NO state store at all (the benchmark gram set
    is a fixed broadcast side), so this runs at any stream rate with
    bounded memory; exactly the per-doc [n_grams, hit_grams,
    contaminated] columns of the batch op, computed per micro-batch.

    STATELESS by construction: a streaming groupBy would demand a
    watermark and update mode, but a document's grams all live in its
    own row — so the benchmark gram set (driver-bounded by the
    benchmark contract) is broadcast and a mapInPandas pass computes
    the per-doc counts row-locally. Append mode, no shuffle, no state
    store, works at any stream rate.

    The broadcast carries 60-bit md5-prefix HASHES of the grams (a
    sorted int64 numpy array probed by searchsorted), not the gram
    strings: 2 M python strs cost ~400-600 MB per executor python
    worker, the hash array 16 MB. BOTH sides hash Spark-side
    (``conv(substring(md5(gram),1,15),16,10)`` — the corpus side as an
    ``array<bigint>`` expression column built before mapInPandas), so
    the kernel is pure vectorized numpy (one concatenate + one
    searchsorted per Arrow batch, zero per-gram Python) and hash parity
    is by construction, not by reimplementing md5 in the worker.
    Collision odds at the 2 M cap are ~2e-6 per benchmark, and a
    collision can only over-flag (never under-flag) a document."""
    import numpy as np

    from polars_ts_spark.operators.textops import _BENCH_GRAMS_CAP, _gram_frame

    spark = benchmark.sparkSession
    bg = (
        _gram_frame(benchmark, n, text_col, id_col)
        .select(
            F.expr("cast(conv(substring(md5(gram), 1, 15), 16, 10) as bigint)")
            .alias("gh")
        )
        .distinct()
    )
    bench = np.sort(collect_capped(
        bg, _BENCH_GRAMS_CAP, "streaming_decontaminate",
        "The benchmark expands to more distinct grams than the broadcast "
        "holds; decontaminate against one benchmark (or shard of it) at a "
        "time and OR the contaminated flags.",
    )["gh"].to_numpy(dtype="int64", na_value=0))
    bc = spark.sparkContext.broadcast(bench)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hashes = bc.value

        for pdf in batches:
            if not len(pdf):
                continue
            # whole-batch vectorized probe: one concatenate + one
            # searchsorted; per-doc hit counts recovered from the
            # prefix-sum of the flat hit mask (exact integer math —
            # zero-gram docs fall out as empty segments)
            arrs = [np.asarray(a, dtype="int64") for a in pdf["__gh"]]
            lens, bounds = _segment_bounds(arrs)
            if bounds[-1] and len(hashes):
                flat = np.concatenate(arrs)
                # clamp: flat beyond hashes[-1] lands at len(hashes);
                # comparing against hashes[-1] there never matches
                idx = np.minimum(np.searchsorted(hashes, flat),
                                 len(hashes) - 1)
                csum = np.zeros(bounds[-1] + 1, dtype="int64")
                np.cumsum(hashes[idx] == flat, out=csum[1:])
                hits = csum[bounds[1:]] - csum[bounds[:-1]]
            else:
                hits = np.zeros(len(arrs), dtype="int64")
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_grams": pd.Series(lens, dtype="int64"),
                "hit_grams": pd.Series(hits, dtype="int64"),
                "contaminated": pd.Series((hits > 0).astype("int32")),
            })

    id_dtype = dict(stream_df.dtypes)[id_col]
    return stream_df.select(
        id_col, _gram_hash_arr(text_col, n).alias("__gh")
    ).mapInPandas(
        score,
        schema=f"{id_col} {id_dtype}, n_grams long, hit_grams long, contaminated int",
    )


def streaming_curation_pipeline(
    stream_df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    quality_min: float = 0.5,
    watermark: str = "10 seconds",
    window: str = "1 minute",
    lm_reference: DataFrame | None = None,
    lm_ppl_max: float = 1000.0,
    alpha: float = 0.1,
    line_filter: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "ts",
) -> DataFrame:
    """The composed end-to-end streaming curation graph (round-8
    directive #8) — dedup -> decontaminate -> quality flags -> windowed
    corpus rollup, ONE readStream plan with ONE watermark:

    0. **line filter (optional, round-10 directive #6)**: pass a
       ``line_filter`` kwargs dict to run C4 line-level cleaning first
       (the published C4 order): docs failing the doc-level verdict
       are dropped and all later stages — the dedup key included —
       see ``clean_text``. Stateless projection, watermark-safe.
    1. **dedup**: ``dropDuplicatesWithinWatermark`` on the text — the
       idiomatic Spark streaming exact-dedup. State is BOUNDED by the
       watermark horizon (a key is evictable once the watermark passes
       its arrival), so it runs forever at any rate; keep-first within
       the horizon, same as the batch keep-first contract.
    2. **decontaminate**: the benchmark gram set (cap-checked like the
       batch twin) is collapsed to a single-row ARRAY on the static
       side and equi-joined in (stream-static broadcast join — no
       state, watermark-preserving); per-doc hits are an
       ``array_intersect`` of expression-built grams. At the 2 M-gram
       cap prefer ``streaming_decontaminate``'s sorted-hash kernel —
       array_intersect rebuilds its probe set per row; this leg is for
       benchmark-shard-sized sets composed into a larger graph.
    3. **quality**: textops' composite quality score, pure projection.
    4. **LM quality (optional, round-9 directive #5)**: pass
       ``lm_reference`` to add the CCNet LM leg — the
       ``streaming_lm_score`` kernel (vectorized, stateless, LM
       broadcast as sorted hash arrays) scores every arriving doc
       BEFORE the watermark/dedup stages (a mapInPandas projection
       preserves the event-time column, so the watermark is applied
       to its output), and the rollup gains
       ``n_lm_ok = #{perplexity <= lm_ppl_max}``; docs too short to
       score (no bigram, incl. NULL text) count as not-ok.
    5. **rollup**: per event-time window [n_docs, n_contaminated,
       n_quality_ok, (n_lm_ok,) total_tokens], append mode — a window
       emits exactly once, when the watermark passes its end (late
       rows inside the horizon still land in their window first).

    Output [window_start, window_end, n_docs, n_contaminated,
    n_quality_ok, (n_lm_ok,) total_tokens]."""
    from polars_ts_spark.operators.textops import (
        _BENCH_GRAMS_CAP, _gram_frame, c4_line_filters, quality_score_expr)

    if line_filter is not None:
        # round-10 directive #6 — the published C4 order runs line
        # filtering FIRST (Raffel et al. 2020): a pure stateless
        # projection + filter, so it is watermark-safe; every later
        # stage (dedup key, LM score, quality, token count) sees the
        # CLEANED text. The event-time column rides the passthrough.
        from polars_ts_spark.operators.textops import (
            _check_line_filter_keys)
        _check_line_filter_keys(line_filter)
        extra = [c for c in stream_df.columns
                 if c not in (id_col, text_col)]
        lf = c4_line_filters(
            stream_df, text_col=text_col, id_col=id_col,
            passthrough=tuple(extra), **line_filter)
        stream_df = lf.filter(F.col("kept")).select(
            F.col(id_col), F.col("clean_text").alias(text_col), *extra)

    if lm_reference is not None:
        import numpy as np

        bc_lm = _lm_broadcast(
            lm_reference, text_col, id_col, "streaming_curation_pipeline")
        passthrough = list(stream_df.columns)
        out_schema = ", ".join(
            f"{c} {t}" for c, t in stream_df.dtypes) + ", __ppl double"

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lm = bc_lm.value
            for pdf in batches:
                if not len(pdf):
                    continue
                _, ce = _lm_ce_rows(pdf["__bh"], pdf["__uh"], lm, alpha)
                out = pdf[passthrough].copy()
                out["__ppl"] = np.exp(ce)  # NaN for unscoreable docs
                yield out

        stream_df = stream_df.select(
            "*", *_lm_hash_cols(text_col)
        ).mapInPandas(score, schema=out_schema)

    bg = _gram_frame(benchmark, n, text_col, id_col).select("gram").distinct()
    if bg.limit(_BENCH_GRAMS_CAP + 1).count() > _BENCH_GRAMS_CAP:
        raise ValueError(
            "streaming_curation_pipeline: benchmark expands to more than "
            f"{_BENCH_GRAMS_CAP} distinct grams (the broadcast cap) — shard "
            "the benchmark and OR the flags (decontaminate_sharded recipe).")
    bench_arr = bg.agg(F.collect_set("gram").alias("__bench")).withColumn(
        "__k", F.lit(1))

    toks = F.split(F.col(text_col), " ")
    # let-bind the token array (see _gram_hash_arr): an inline split
    # inside the gram lambda is re-evaluated once per gram
    grams = F.transform(
        F.array(toks),
        lambda tk: F.when(
            F.size(tk) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - n + 1),
                lambda i: F.array_join(F.slice(tk, i, n), " "),
            ),
        ).otherwise(F.expr("array()").cast("array<string>")),
    ).getItem(0)

    deduped = (
        stream_df.withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark([text_col])
    )
    flagged = (
        deduped.withColumn("__k", F.lit(1))
        .join(F.broadcast(bench_arr), "__k")
        .withColumn(
            "__contam",
            (F.size(F.array_intersect(grams, F.col("__bench"))) > 0).cast("int"))
        .withColumn(
            "__q_ok",
            # NULL text must be not-ok, gated EXPLICITLY: least()
            # skips NULL operands, so the raw score expression hands a
            # null-text doc a nonsense 0.59 instead of NULL
            F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
                F.coalesce(
                    (quality_score_expr(text_col) >= quality_min).cast("int"),
                    F.lit(0))))
    )
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__contam").alias("n_contaminated"),
        F.sum("__q_ok").alias("n_quality_ok"),
        # size(split(NULL)) is -1 under non-ANSI Spark: a null-text
        # doc must contribute 0 tokens, not decrement the window
        F.sum(F.greatest(F.size(toks), F.lit(0))).alias("total_tokens"),
    ]
    out_cols = ["n_docs", "n_contaminated", "n_quality_ok", "total_tokens"]
    if lm_reference is not None:
        # NaN (unscoreable) fails the <= comparison -> counts 0
        aggs.insert(3, F.sum(
            F.when(F.col("__ppl") <= F.lit(float(lm_ppl_max)), 1)
            .otherwise(0)).alias("n_lm_ok"))
        out_cols.insert(3, "n_lm_ok")
    return (
        flagged.groupBy(F.window(time_col, window))
        .agg(*aggs)
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *out_cols,
        )
    )


def streaming_lm_score(
    stream_df: DataFrame,
    reference: DataFrame,
    alpha: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming twin of ``textops.ngram_lm_score`` — the online
    quality filter a live ingestion pipeline runs: score every arriving
    document's bigram cross-entropy/perplexity under an add-``alpha``
    LM trained ONCE on the static ``reference`` corpus. STATELESS: the
    LM is a fixed broadcast (sorted 60-bit md5-prefix hash arrays for
    bigram and unigram counts + the vocab size — the
    ``streaming_decontaminate`` memory model, ~16 B per distinct gram),
    and a mapInPandas pass scores each row locally. Append mode, no
    shuffle, no state store.

    Same cap and guidance as the decontaminators — checked on BOTH LM
    tables (the bigram table AND the unigram/vocabulary table: an
    adversarial reference of many 1-token docs can have a huge
    vocabulary with few bigrams): a reference whose tables
    exceed the broadcast cap must move to hashed-bucket features
    (``dsir_importance``'s space) instead. The corpus side hashes its
    bigram/context-unigram arrays Spark-side as expression columns
    before mapInPandas, so the kernel is pure
    vectorized numpy — two searchsorted probes + one segment-sum per
    Arrow batch, zero per-gram Python — and hash parity with the
    broadcast tables is by construction. Hash collisions (~2e-6 at
    the cap) can only nudge a probability, never drop a document.
    Output [doc_id, n_bigrams, cross_entropy, perplexity] for docs
    with >= 1 bigram, the batch twin's contract."""
    import numpy as np

    bc = _lm_broadcast(reference, text_col, id_col, "streaming_lm_score")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lm = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            lens, ce = _lm_ce_rows(pdf["__bh"], pdf["__uh"], lm, alpha)
            keep = lens > 0
            if not keep.any():
                continue
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy()[keep],
                "n_bigrams": pd.Series(lens[keep], dtype="int64"),
                "cross_entropy": pd.Series(ce[keep], dtype="float64"),
                "perplexity": pd.Series(np.exp(ce[keep]), dtype="float64"),
            })

    id_dtype = dict(stream_df.dtypes)[id_col]
    return stream_df.select(
        F.col(id_col), *_lm_hash_cols(text_col)
    ).mapInPandas(
        score,
        schema=f"{id_col} {id_dtype}, n_bigrams long, "
               "cross_entropy double, perplexity double",
    )


def _lm_broadcast(reference, text_col, id_col, caller: str):
    """Train the add-alpha bigram LM count tables on ``reference`` and
    broadcast them as sorted int64 hash/count arrays
    ((bh, bcnt), (uh, ucnt), vocab_size). BOTH tables are cap-gated:
    an adversarial reference of many 1-token docs has a huge VOCABULARY
    with few bigrams, so the bigram gate alone would wave it through and
    the unigram collect would blow the driver."""
    import numpy as np

    from polars_ts_spark.operators.textops import _BENCH_GRAMS_CAP, _gram_frame

    spark = reference.sparkSession

    bpdf = collect_capped(
        _gram_frame(reference, 2, text_col, id_col)
        .groupBy("gram").agg(F.count("*").alias("c"))
        .select(_hash60(F.col("gram")).alias("gh"), "c"),
        _BENCH_GRAMS_CAP, caller,
        "The reference has too many distinct bigrams for the broadcast; "
        "use hashed-bucket LM features (dsir_importance's space) for "
        "web-scale references.",
    )
    updf = collect_capped(
        reference.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w").agg(F.count("*").alias("c"))
        .select(_hash60(F.col("w")).alias("gh"), "c"),
        _BENCH_GRAMS_CAP, caller,
        "The reference has too many distinct unigrams (vocabulary) for the "
        "broadcast; a vocabulary this size needs hashed-bucket LM features "
        "(dsir_importance's space).",
    )

    def pack(pdf):
        order = np.argsort(pdf["gh"].to_numpy(dtype="int64"))
        return (pdf["gh"].to_numpy(dtype="int64")[order],
                pdf["c"].to_numpy(dtype="int64")[order])

    return spark.sparkContext.broadcast(
        (pack(bpdf), pack(updf), float(len(updf))))


def _lm_hash_cols(text_col: str) -> list:
    """The two JVM-side expression columns the LM kernels consume:
    ``__bh`` (bigram hashes) and ``__uh`` (their CONTEXT-unigram
    hashes, tokens 1..len-1) — the kernel never sees a string."""
    toks = F.split(F.col(text_col), " ")
    empty = F.expr("array()").cast("array<bigint>")
    ctx_hashes = F.slice(
        F.transform(toks, _hash60), F.lit(1), F.size(toks) - 1)
    return [
        _gram_hash_arr(text_col, 2).alias("__bh"),
        F.when(F.size(toks) >= 2, ctx_hashes).otherwise(empty).alias("__uh"),
    ]


def _lm_ce_rows(bh_cells, uh_cells, lm, alpha: float):
    """Vectorized per-row cross-entropy under the broadcast LM:
    returns (lens, ce) with ``ce[i] = NaN`` for rows with no bigram.
    One searchsorted probe per table + one segment reduceat per Arrow
    batch — zero per-gram Python."""
    import numpy as np

    (bh, bcnt), (uh, ucnt), vsize = lm
    a = float(alpha)

    def count_of(hs, keys, cnts):
        if not len(keys):
            return np.zeros(len(hs), dtype="int64")
        idx = np.minimum(np.searchsorted(keys, hs), len(keys) - 1)
        return np.where(keys[idx] == hs, cnts[idx], 0)

    barrs = [np.asarray(x, dtype="int64") for x in bh_cells]
    uarrs = [np.asarray(x, dtype="int64") for x in uh_cells]
    lens, bounds = _segment_bounds(barrs)
    ce = np.full(len(barrs), np.nan)
    keep = lens > 0
    if keep.any():
        logp = np.log(
            (count_of(np.concatenate(barrs), bh, bcnt) + a)
            / (count_of(np.concatenate(uarrs), uh, ucnt) + a * vsize))
        # per-doc sums via reduceat over the KEPT segment starts:
        # zero-length docs are skipped, so consecutive kept starts
        # bound exactly one doc's grams (strictly increasing)
        segs = np.add.reduceat(logp, bounds[:-1][keep])
        ce[keep] = -segs / lens[keep]
    return lens, ce
