"""Differential fuzz: the text-pipeline oracles hold on RANDOM corpora,
not just the driver's fixed documents table. Each case builds a seeded
corpus (skewed vocab for duplicate pressure, exact dups, short docs
below the shingle width, injected PII, mixed languages), writes it to
parquet, and compares every Spark operator against its DuckDB oracle
with the same normalize-sort-compare the correctness gate uses."""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from polars_ts_spark.operators import textops

_spec = importlib.util.spec_from_file_location(
    "check_correctness",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "check_correctness.py"),
)
_cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_cc)
normalize = _cc.normalize


def _make_corpus(seed: int, n_docs: int = 60):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(25)] + list(
        textops.LANG_MARKERS["en"]) + list(textops.LANG_MARKERS["de"])
    rows = []
    for d in range(n_docs):
        kind = rng.random()
        if kind < 0.1:  # short doc (below shingle width)
            text = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 2)))
        elif kind < 0.25 and rows:  # exact dup of an earlier doc
            text = rng.choice(rows)[1]
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(5, 40))]
            if rng.random() < 0.2:  # inject PII
                toks.insert(rng.randrange(len(toks)),
                            rng.choice(["u@ex.com", "https://ex.org/x",
                                        "+1 (415) 555-0000"]))
            text = " ".join(toks)
        rows.append((d, text, rng.choice(["en", "de", "fr"])))
    return rows


CASES = [
    ("exact_dedup",
     lambda df: textops.exact_dedup(df),
     lambda: textops.EXACT_DEDUP_ORACLE),
    ("text_stats",
     lambda df: textops.text_stats(df),
     lambda: textops.TEXT_STATS_ORACLE),
    ("token_counts",
     lambda df: textops.token_counts(df),
     lambda: textops.TOKEN_COUNTS_ORACLE),
    ("minhash_lsh_pairs",
     lambda df: textops.minhash_lsh_pairs(df, threshold=0.5),
     lambda: textops.minhash_lsh_oracle()),
    ("dup_ngram_stats",
     lambda df: textops.dup_ngram_stats(df, n=3),
     lambda: textops.dup_ngram_stats_oracle(n=3)),
    ("stratified_sample",
     lambda df: textops.stratified_sample(df, frac=0.3, by="lang"),
     lambda: textops.stratified_sample_oracle(frac=0.3, by="lang")),
    ("pii_scrub",
     lambda df: textops.pii_scrub(df),
     lambda: textops.pii_scrub_oracle()),
    ("lsh_dedup_keep_first",
     lambda df: textops.lsh_dedup_keep_first(df.withColumn(
         "ds", F.expr("timestamp_seconds(unix_seconds("
                      "timestamp'2024-01-01 00:00:00') + doc_id)"))),
     lambda: textops.lsh_dedup_keep_first_oracle()),
    ("gopher_repetition",
     lambda df: textops.gopher_repetition(df),
     lambda: textops.gopher_repetition_oracle()),
    ("domain_stats",
     lambda df: textops.domain_stats(df.withColumn(
         "text", F.expr("concat(text, ' https://d', CAST(doc_id % 5 AS STRING), '.ex.org/p')"))),
     lambda: textops.domain_stats_oracle(
         table="(SELECT doc_id, text || ' https://d' || CAST(doc_id % 5 AS VARCHAR)"
               " || '.ex.org/p' AS text FROM documents)")),
    ("trim_duplicate_spans",
     lambda df: textops.trim_duplicate_spans(df),
     lambda: textops.trim_duplicate_spans_oracle()),
    ("benchmark_decontaminate",
     lambda df: textops.decontaminate(df, df.filter(F.col("doc_id") % 7 == 0)),
     lambda: textops.decontaminate_oracle(
         benchmark_sql="(SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0)")),
    ("ngram_lm_score",
     lambda df: textops.ngram_lm_score(df).selectExpr(
         "doc_id", "n_bigrams", "round(cross_entropy, 6) AS cross_entropy",
         "round(perplexity, 6) AS perplexity"),
     lambda: "SELECT doc_id, n_bigrams, ROUND(cross_entropy, 6) AS "
             "cross_entropy, ROUND(perplexity, 6) AS perplexity FROM ("
             + textops.ngram_lm_score_oracle() + ") r"),
    ("perplexity_buckets",
     lambda df: textops.perplexity_buckets(df),
     lambda: textops.perplexity_buckets_oracle()),
    ("dsir_importance",
     lambda df: textops.dsir_importance(
         df, df.filter(F.col("doc_id") % 7 == 0)).selectExpr(
         "doc_id", "n_features", "round(log_weight, 6) AS log_weight"),
     lambda: "SELECT doc_id, n_features, ROUND(log_weight, 6) AS log_weight "
             "FROM (" + textops.dsir_importance_oracle(
                 target_sql="(SELECT doc_id, text FROM documents "
                            "WHERE doc_id % 7 = 0)") + ") r"),
    ("sequence_pack",
     lambda df: textops.sequence_pack(df, window=16, n_shards=3),
     lambda: textops.sequence_pack_oracle(window=16, n_shards=3)),
    ("sequence_pack_bins",
     lambda df: textops.sequence_pack_bins(df, window=16, n_shards=3),
     lambda: textops.sequence_pack_bins_oracle(window=16, n_shards=3)),
    ("c4_line_filters",
     # split on a vocab word so the random corpus yields multi-line docs
     lambda df: textops.c4_line_filters(
         df, line_sep=" w1 ", min_words_per_line=2, min_lines=1,
         require_terminal_punct=False),
     lambda: textops.c4_line_filters_oracle(
         line_sep=" w1 ", min_words_per_line=2, min_lines=1,
         require_terminal_punct=False)),
]


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_text_oracles_on_random_corpus(spark, seed):
    rows = _make_corpus(seed)
    tmp = tempfile.mkdtemp(prefix="fuzz_docs_")
    try:
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        path = os.path.join(tmp, "documents.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        sdf_src = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        for name, spark_fn, oracle_fn in CASES:
            a = normalize(spark_fn(sdf_src).toPandas())
            b = normalize(con.execute(oracle_fn()).df())
            assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
            assert list(a.columns) == list(b.columns), f"{name}: cols differ"
            assert a.equals(b), (
                f"{name}: value mismatch on seed {seed}\n"
                f"spark:\n{a[(a != b).any(axis=1)].head(3)}\n"
                f"oracle:\n{b[(a != b).any(axis=1)].head(3)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("seed", [5, 17])
def test_embedding_oracles_on_random_vectors(spark, seed):
    import numpy as np

    from polars_ts_spark.operators import embedsim

    rng = np.random.default_rng(seed)
    # the oracle dot/norm expand to the corpus dimensionality (embedsim.DIM)
    n, dim = 80, embedsim.DIM
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    # plant a few near-dups so the 0.95 threshold fires
    for i in range(0, 12, 3):
        vecs[i + 1] = vecs[i] + rng.normal(scale=1e-3, size=dim).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    tmp = tempfile.mkdtemp(prefix="fuzz_emb_")
    try:
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        path = os.path.join(tmp, "embeddings.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')")
        for name, sdf, sql in [
            ("brute_force_topk", embedsim.brute_force_topk(src, k=3),
             embedsim.brute_force_topk_oracle(k=3)),
            ("cosine_dedup_pairs", embedsim.cosine_dedup_pairs(src, threshold=0.95),
             embedsim.cosine_dedup_oracle(0.95)),
        ]:
            a = normalize(sdf.toPandas())
            b = normalize(con.execute(sql).df())
            assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
            assert a.equals(b), f"{name}: mismatch on seed {seed}"
        # and the planted near-dups were actually found
        found = embedsim.cosine_dedup_pairs(src, threshold=0.95).count()
        assert found >= 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("seed", [31, 59])
def test_keep_first_dedup_adversarial_timestamp_ties(spark, seed):
    """Many docs share one event time -> the keep-first decision falls
    entirely on the id tie-break inside the (band, key) window; both
    engines must walk the identical order (VERDICT r6 #8)."""
    rows = _make_corpus(seed, n_docs=80)
    tmp = tempfile.mkdtemp(prefix="fuzz_ties_")
    try:
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        path = os.path.join(tmp, "documents.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        # 3 distinct timestamps over 80 docs: maximal tie pressure
        tied = src.withColumn(
            "ds", F.expr("timestamp_seconds(unix_seconds("
                         "timestamp'2024-01-01 00:00:00') + doc_id % 3)"))
        a = normalize(textops.lsh_dedup_keep_first(tied).toPandas())
        b = normalize(con.execute(textops.lsh_dedup_keep_first_oracle(
            ds_expr="TIMESTAMP '2024-01-01' + (doc_id % 3) * INTERVAL 1 SECOND"
        )).df())
        assert len(a) == len(b) and a.equals(b), f"tie mismatch on seed {seed}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("seed", [7, 29])
def test_ivf_oracle_on_clustered_vectors(spark, seed):
    """IVF trajectory parity on a NON-uniform corpus (mixture of
    Gaussians -> unbalanced inverted lists), the regime the registered
    uniform-corpus oracle never exercises (VERDICT r6 #8)."""
    import numpy as np

    from polars_ts_spark.operators import embedsim

    rng = np.random.default_rng(seed)
    dim = embedsim.DIM
    centers = rng.normal(scale=2.0, size=(3, dim))
    sizes = (70, 30, 10)  # deliberately skewed cells
    vecs = np.vstack([
        c + rng.normal(scale=0.3, size=(s, dim)) for c, s in zip(centers, sizes)
    ]).astype(np.float32)
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    tmp = tempfile.mkdtemp(prefix="fuzz_ivf_")
    try:
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        path = os.path.join(tmp, "embeddings.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}/*.parquet')")
        a = normalize(embedsim.ivf_ann_topk(src, k=3, n_cells=4, n_probe=2).toPandas())
        b = normalize(con.execute(
            embedsim.ivf_ann_oracle(k=3, n_cells=4, n_probe=2)).df())
        assert len(a) == len(b), f"rows {len(a)} vs {len(b)}"
        assert a.equals(b), f"ivf mismatch on seed {seed}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("seed", [13, 41])
def test_reconcile_grouped_random_dag(spark, seed):
    """Grouped reconciliation on a RANDOM multi-parent DAG vs an
    independent pandas oracle (descendant-leaf sums) — the registered
    oracle only covers the fixed nation×band hierarchy (VERDICT r6 #8)."""
    import numpy as np
    import pandas as pd

    from polars_ts_spark.operators import evaluation

    rng = random.Random(seed)
    n_bottom = rng.randint(6, 12)
    groups_a = [f"ga_{i}" for i in range(rng.randint(2, 3))]
    groups_b = [f"gb_{i}" for i in range(rng.randint(2, 4))]
    hierarchy, parents_of = {}, {}
    for i in range(n_bottom):
        ps = [rng.choice(groups_a), rng.choice(groups_b)]
        hierarchy[f"b{i}"] = ps
        parents_of[f"b{i}"] = ps
    for g in groups_a + groups_b:
        hierarchy[g] = "total"
    ts = pd.date_range("2024-01-01", periods=3, freq="D")
    fc_rows = [(f"b{i}", t, round(rng.uniform(-5, 20), 2))
               for i in range(n_bottom) for t in ts]
    fc = spark.createDataFrame(pd.DataFrame(fc_rows, columns=["unique_id", "ds", "y_hat"]))
    got = evaluation.reconcile_bottom_up(fc, hierarchy).toPandas()
    # pandas oracle: every node's value = sum of its bottom descendants
    base = pd.DataFrame(fc_rows, columns=["unique_id", "ds", "y_hat"])
    expect = [base]
    for g in groups_a + groups_b:
        members = [b for b, ps in parents_of.items() if g in ps]
        sub = base[base["unique_id"].isin(members)].groupby("ds", as_index=False)["y_hat"].sum()
        sub.insert(0, "unique_id", g)
        expect.append(sub)
    tot = base.groupby("ds", as_index=False)["y_hat"].sum()
    tot.insert(0, "unique_id", "total")
    expect.append(tot)
    want = pd.concat(expect, ignore_index=True)
    a, b = normalize(got), normalize(want)
    assert len(a) == len(b) and a.equals(b), f"reconcile mismatch on seed {seed}"


@pytest.mark.parametrize("seed", [3, 19, 37])
def test_causal_placebo_null_vs_real_effect(spark, seed):
    """Randomized placebo sanity: with a planted step effect AFTER the
    real intervention, the placebo run (pre-only data, earlier pseudo
    intervention) must stay near zero while causal_impact sees the
    step — the property the placebo test exists to certify."""
    import numpy as np
    import pandas as pd

    from polars_ts_spark.operators import causal

    rng = np.random.default_rng(seed)
    n = 120
    ts = pd.date_range("2024-01-01", periods=n, freq="D")
    y = 50.0 + rng.normal(0, 1.0, n)
    t_real = ts[90]
    y[90:] += 25.0  # planted effect
    df = spark.createDataFrame(pd.DataFrame({"unique_id": "s", "ds": ts, "y": y}))
    real = causal.causal_impact(df, t_real)
    plc = causal.placebo_test(df, t_real, ts[60])
    # local_trend extrapolates a small estimated drift over the placebo
    # window, so "near zero" means a few sigma of cumulative drift —
    # an order of magnitude under the planted step of 25
    assert abs(real.attrs["avg_effect"]) > 5 * abs(plc.attrs["avg_effect"])
    assert abs(plc.attrs["avg_effect"]) < 4.0


@pytest.mark.parametrize("seed", [7, 13, 29])
def test_trim_duplicate_spans_adversarial(spark, seed):
    """Round-8 directive #6: the subtlest curation semantics under
    adversarial corpora — pure single-token repetitions (every 8-gram
    of the doc identical and self-overlapping), the planted gram
    repeated back-to-back inside the OWNER doc, grams wrapped in
    multiple consecutive spaces (empty tokens from split), docs at
    exactly n and n-1 tokens, and chains where one doc holds grams
    owned by two different owners. Checked two ways: DuckDB-oracle
    parity and internal invariants (mask <= tokens; trimmed length =
    n_tokens - masked_tokens)."""
    import random as _random

    rng = _random.Random(seed)
    vocab = [f"t{i}" for i in range(6)]  # tiny vocab -> heavy gram collisions
    gram_a = " ".join(f"a{i}" for i in range(8))
    gram_b = " ".join(f"b{i}" for i in range(8))
    rows = []
    for d in range(40):
        kind = rng.random()
        if kind < 0.15:
            text = " ".join([rng.choice(vocab)] * rng.randint(8, 30))
        elif kind < 0.30:
            text = " ".join([gram_a] * rng.randint(1, 3))
        elif kind < 0.40:
            text = ("  " + gram_a) if rng.random() < 0.5 else gram_a.replace(
                " ", "  ", 1)
        elif kind < 0.50:
            text = " ".join(rng.choice(vocab) for _ in range(rng.choice([7, 8])))
        elif kind < 0.60:
            text = gram_a + " bridge " + gram_b  # two owners' grams, one doc
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(8, 25))]
            if rng.random() < 0.5:
                p = rng.randrange(len(toks))
                toks[p:p] = rng.choice([gram_a, gram_b]).split(" ")
            text = " ".join(toks)
        rows.append((d, text))
    tmp = tempfile.mkdtemp(prefix="fuzz_trim_")
    try:
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        path = os.path.join(tmp, "documents.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        src = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        out = textops.trim_duplicate_spans(src)
        a = normalize(out.toPandas())
        b = normalize(con.execute(textops.trim_duplicate_spans_oracle()).df())
        assert len(a) == len(b) == len(rows)
        assert a.equals(b), (
            f"trim mismatch on seed {seed}\n"
            f"spark:\n{a[(a != b).any(axis=1)].head(3)}\n"
            f"oracle:\n{b[(a != b).any(axis=1)].head(3)}")
        # invariants straight off the Spark result (untouched by the
        # normalize/round pipeline)
        for r in out.collect():
            assert 0 <= r["masked_tokens"] <= r["n_tokens"], r
            kept = len(r["text_trimmed"].split(" ")) if r["text_trimmed"] else 0
            assert kept == r["n_tokens"] - r["masked_tokens"], r
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_c4_and_dedup_null_text_parity(spark):
    """ADVICE r9: the fuzz corpus never generates NULL text, which
    left a latent c4 NULL divergence unexercised (the oracle used to
    COALESCE clean_text to '' while Spark emits NULL). Pin the parity
    on a corpus WITH NULL text for the two ops whose oracles touch
    the raw text column directly."""
    rows = [(0, "a b c d e"), (1, None), (2, "a b c d e"), (3, None),
            (4, "x w1 y z w1 q r"), (5, "")]
    tmp = tempfile.mkdtemp(prefix="fuzz_null_")
    try:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        path = os.path.join(tmp, "documents.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(path)
        sdf = spark.read.parquet(path)
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')")
        pairs = [
            ("c4_line_filters",
             textops.c4_line_filters(sdf, line_sep=" w1 ",
                                     min_words_per_line=2, min_lines=1,
                                     require_terminal_punct=False),
             textops.c4_line_filters_oracle(line_sep=" w1 ",
                                            min_words_per_line=2,
                                            min_lines=1,
                                            require_terminal_punct=False)),
            ("exact_dedup", textops.exact_dedup(sdf),
             textops.EXACT_DEDUP_ORACLE),
        ]
        for name, s, sql in pairs:
            # Spark->pandas renders a NULL boolean as None, DuckDB as
            # NaN — same value, different stringification; unify it
            # (the driver gate never sees NULL text on real corpora)
            a = normalize(s.toPandas()).replace({"None": "nan"})
            b = normalize(con.execute(sql).df()).replace({"None": "nan"})
            assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
            assert a.equals(b), f"{name}: NULL-text divergence\n{a}\n{b}"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_exact_dedup_independent_oracle_collision_free(spark):
    """The round-10 EXACT_DEDUP_ORACLE groups by raw TEXT (independent
    of the md5 device the Spark plan shuffles on); the identification
    is valid iff md5 is injective on the corpus texts. Assert that
    directly on every shipped corpus AND on fuzz corpora with planted
    exact dups (where the grouping equality itself is already fuzzed
    by test_text_oracles_on_random_corpus)."""
    for sf in ("0.001", "0.01", "0.1"):
        n_text, n_md5 = duckdb.sql(
            "SELECT COUNT(DISTINCT text), COUNT(DISTINCT md5(text)) "
            f"FROM '/root/testdata/sf{sf}/documents.parquet'").fetchone()
        assert n_text == n_md5, f"md5 collision at sf{sf}"
    for seed in (11, 23):
        rows = _make_corpus(seed)
        n_text = len({t for _, t, _ in rows})
        con = duckdb.connect()
        con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
        n_md5 = con.execute("SELECT COUNT(DISTINCT md5(text)) FROM t").fetchone()[0]
        assert n_text == n_md5, f"md5 collision in fuzz corpus seed {seed}"


def test_dsir_smallvocab_bucket_injective():
    """Pins the premise of dsir_importance_smallvocab's INDEPENDENT
    oracle (VERDICT r9 #3): on the first-character-collapsed corpus
    the md5 bucket map at n_buckets=1048576 is injective over the
    observed uni+bigram set at ALL THREE shipped sfs, so the hashed
    multinomials equal the exact gram multinomials and the hash-free
    oracle identifies the operator's output."""
    for sf in ("0.001", "0.01", "0.1"):
        n_grams, n_buckets = duckdb.sql(f"""
WITH toks AS (
  SELECT list_transform(string_split(text, ' '), t -> substr(t, 1, 1)) AS ts
  FROM '/root/testdata/sf{sf}/documents.parquet'
),
g AS (
  SELECT DISTINCT unnest(ts) AS g FROM toks
  UNION
  SELECT DISTINCT array_to_string(ts[i:i + 1], ' ') AS g
  FROM toks, UNNEST(generate_series(1, greatest(len(ts) - 1, 1))) AS t(i)
)
SELECT COUNT(*),
       COUNT(DISTINCT (('0x' || substr(md5(g), 1, 15))::BIGINT % 1048576))
FROM g""").fetchone()
        assert n_grams == n_buckets, (
            f"bucket collision at sf{sf}: {n_grams} grams -> "
            f"{n_buckets} buckets")


def test_doc_fingerprint_hash_injective_on_corpus():
    """Supports doc_fingerprint's oracle epistemics (VERDICT r9 #3,
    'collision-free corpora'): the 60-bit rolling hash is injective on
    the corpus' character-k-gram set at all three sfs, so MIN(hash)
    identifies a unique argmin gram per doc — fingerprint equality is
    gram equality, and the explode + MIN on top of the documented hash
    spec is ordinary relational math. Also asserts the semantic
    consequence directly: docs sharing a fingerprint share their
    argmin k-gram."""
    for sf in ("0.001", "0.01", "0.1"):
        n_grams, n_hashes = duckdb.sql(f"""
WITH g AS (
  SELECT DISTINCT substr(text, i, 8) AS gram
  FROM '/root/testdata/sf{sf}/documents.parquet',
       UNNEST(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)
)
SELECT COUNT(*),
       COUNT(DISTINCT ('0x' || substr(md5(gram), 1, 15))::BIGINT)
FROM g""").fetchone()
        assert n_grams == n_hashes, f"hash60 collision at sf{sf}"
    # fingerprint equality <=> argmin-gram equality on the sf0.01 corpus
    bad = duckdb.sql("""
WITH g AS (
  SELECT doc_id, substr(text, i, 8) AS gram,
         ('0x' || substr(md5(substr(text, i, 8)), 1, 15))::BIGINT AS h
  FROM '/root/testdata/sf0.01/documents.parquet',
       UNNEST(generate_series(1, greatest(length(text) - 7, 1))) AS t(i)
),
fp AS (
  SELECT doc_id, MIN(h) AS fingerprint, arg_min(gram, h) AS min_gram
  FROM g GROUP BY doc_id
)
SELECT COUNT(*) FROM fp a JOIN fp b
  ON a.fingerprint = b.fingerprint AND a.min_gram <> b.min_gram""").fetchone()[0]
    assert bad == 0


def test_oracle_injectivity_premise_checked_in_query():
    """ADVICE r10: the EXACT_DEDUP / dsir-smallvocab oracles must not
    rely on out-of-band injectivity tests — the SQL itself asserts the
    premise on whatever corpus it runs against. Violation side: the
    smallvocab oracle at n_buckets=2 on a >2-gram corpus must raise
    the premise error (md5 collisions cannot be fabricated, so the
    bucket map is the practical violation lever); happy side: both
    oracles run green on a corpus satisfying their premises."""
    con = duckdb.connect()
    con.execute("""CREATE TABLE documents AS SELECT * FROM (VALUES
        (1::BIGINT, 'aa bb cc dd'), (2::BIGINT, 'aa bb cc dd'),
        (3::BIGINT, 'ee ff gg hh'), (4::BIGINT, 'ii jj')
    ) t(doc_id, text)""")
    rows = con.execute(textops.EXACT_DEDUP_ORACLE).fetchall()
    assert sorted(rows) == [(1, 2), (3, 1), (4, 1)]
    ok = con.execute(textops.dsir_importance_smallvocab_oracle(
        n_buckets=1_048_576, target_pred="doc_id % 2 = 0")).fetchall()
    assert len(ok) == 4
    with pytest.raises(Exception, match="premise violated"):
        con.execute(textops.dsir_importance_smallvocab_oracle(
            n_buckets=2, target_pred="doc_id % 2 = 0")).fetchall()


def test_minhash_small_universe_exact_jaccard_crosscheck(spark):
    """INDEPENDENT statistical validation of the MinHash estimator
    (VERDICT r10 #7): on a small-universe fixture with graded overlaps
    (sliding slices of a distinct-token sequence), compare the op's
    minhash_jaccard against exact Jaccard over word-3-gram shingle
    sets computed in pure Python — no md5, no Spark, no DuckDB.
    Deterministic (the md5 coordinate streams are fixed), so the
    bounds are pins, set at the theoretical concentration rate
    sqrt(J(1-J)/16) <= 0.125 the estimator advertises. This fixture
    is what caught the round-10 affine family's correlated
    coordinates (J=0.09 estimated at 0.81)."""
    import itertools

    master = [f"v{i}" for i in range(40)]
    docs = [(i, " ".join(master[i * 2:i * 2 + 14])) for i in range(12)]
    docs += [(100, docs[0][1]), (101, docs[5][1])]          # exact dups
    docs += [(200 + i, " ".join(f"w{(i + j) % 6}" for j in range(12)))
             for i in range(4)]                              # disjoint vocab

    def sh(t, n=3):
        toks = t.split(" ")
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    exact = {}
    for (i, a), (j, b) in itertools.combinations(docs, 2):
        sa, sb = sh(a), sh(b)
        if sa and sb:
            exact[(min(i, j), max(i, j))] = len(sa & sb) / len(sa | sb)

    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {(r["doc_id_1"], r["doc_id_2"]): r["minhash_jaccard"]
           for r in textops.minhash_lsh_pairs(
               sdf, num_hashes=16, bands=4, threshold=0.0).collect()}
    # exactness at the extremes
    assert got[(0, 100)] == 1.0 and got[(5, 101)] == 1.0
    assert not [p for p in got if exact.get(p, 0.0) == 0.0]
    # every J >= 0.8 pair is a candidate (banding S-curve ~0.99 there;
    # pinned 8/8 on this fixture)
    hi = [p for p, j in exact.items() if j >= 0.8]
    assert hi and all(p in got for p in hi)
    # estimator concentration: MAE within the advertised rate, worst
    # emitted error within ~2 sigma (pinned: 0.086 / 0.25)
    errs = [abs(got[p] - exact[p]) for p in got if p in exact]
    assert sum(errs) / len(errs) <= 0.125, sum(errs) / len(errs)
    assert max(errs) <= 0.30, max(errs)


def test_minhash_concentration_improves_k16_to_k64(spark):
    """VERDICT r11 wrong #2: the exact-Jaccard cross-check anchors the
    estimator at K=16 only — pin the sqrt(J(1-J)/K) concentration
    CLAIM by showing the estimator error shrinks ~2x from K=16 to
    K=64 on the same small universe (theory: sqrt(16/64) = 0.5).
    Signatures are compared directly (all pairs, no banding) so the
    two K's see the identical pair population. Deterministic, so the
    bounds are pins."""
    import itertools

    master = [f"v{i}" for i in range(40)]
    docs = [(i, " ".join(master[i * 2:i * 2 + 14])) for i in range(12)]
    docs += [(200 + i, " ".join(f"w{(i + j) % 6}" for j in range(12)))
             for i in range(4)]

    def sh(t, n=3):
        toks = t.split(" ")
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    exact = {}
    for (i, a), (j, b) in itertools.combinations(docs, 2):
        exact[(i, j)] = len(sh(a) & sh(b)) / len(sh(a) | sh(b))

    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    maes = {}
    for K in (16, 64):
        sig = {r["doc_id"]: [r[f"mh_{c}"] for c in range(K)]
               for r in textops.minhash_signatures(sdf, num_hashes=K).collect()}
        errs = [abs(sum(a == b for a, b in zip(sig[i], sig[j])) / K - jac)
                for (i, j), jac in exact.items()]
        maes[K] = sum(errs) / len(errs)
    # advertised rates: sqrt(J(1-J)/K) <= 0.125 (K=16) / 0.0625 (K=64)
    assert maes[16] <= 0.125, maes
    assert maes[64] <= 0.0625, maes
    # the ~2x shrink itself (0.65 allows fixture noise over theory's 0.5)
    assert maes[64] <= 0.65 * maes[16], maes


def test_simhash_planted_hamming_pure_python_crosscheck(spark):
    """INDEPENDENT validation of simhash_pairs (VERDICT r10 #7): a
    pure-Python reimplementation of the documented spec (60-bit
    md5-prefix token hash, frequency-weighted bit votes) plus a
    brute-force all-pairs hamming scan — assert the Spark fingerprints
    match bit-for-bit AND the banded pigeonhole join returns EXACTLY
    the brute-force pair set at max_hamming=3. Fixture plants k-token
    substitutions (k = 0, 1, 2, 4) so the hamming gradient is real."""
    import hashlib
    import itertools
    from collections import Counter

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def simhash_py(text):
        cnt = Counter(text.split(" "))
        fp = 0
        for k in range(60):
            v = sum(c if (h60(t) >> k) & 1 else -c for t, c in cnt.items())
            if v > 0:
                fp |= 1 << k
        return fp

    base = [f"t{i % 23}" for i in range(64)]
    docs = [(0, " ".join(base))]
    for di, k in enumerate((0, 1, 2, 4), start=1):
        v = list(base)
        for s in range(k):
            v[7 * s + 3] = f"z{di}_{s}"
        docs.append((di, " ".join(v)))
    docs.append((99, " ".join(f"u{i}" for i in range(40))))  # far doc

    fps_py = {i: simhash_py(t) for i, t in docs}
    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    fps_spark = {r["doc_id"]: r["simhash"]
                 for r in textops.simhash_fingerprint(sdf).collect()}
    assert fps_spark == fps_py  # bit-for-bit, third implementation
    # doc 1 is a k=0 substitution: identical text, hamming 0
    assert bin(fps_py[0] ^ fps_py[1]).count("1") == 0
    want = {}
    for (i, _), (j, _) in itertools.combinations(docs, 2):
        h = bin(fps_py[i] ^ fps_py[j]).count("1")
        if h <= 3:
            want[(min(i, j), max(i, j))] = h
    got = {(r["doc_id_1"], r["doc_id_2"]): r["hamming"]
           for r in textops.simhash_pairs(sdf, max_hamming=3).collect()}
    assert got == want  # banding is EXACT, not just a candidate set
    assert (0, 1) in want  # the planted k=0 pair survives end-to-end


def test_dedup_clusters_matches_python_union_find(spark, monkeypatch):
    """INDEPENDENT validation of the components engine: pure-Python
    union-find over the same random edge lists must produce the
    identical min-label clustering — two implementations, one spec.
    The last three graphs carry a scrambled 35-node path, deeper than
    the propagation rounds, so the star fallback must run on them."""
    import random

    def uf_labels(n, edges):
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {i: find(i) for i in range(n)}

    star_calls = []
    real_star = textops._cc_star
    monkeypatch.setattr(textops, "_cc_star",
                        lambda *a: star_calls.append(1) or real_star(*a))
    rng = random.Random(47)
    n = 50
    docs = spark.createDataFrame(
        [(i, f"d {i}") for i in range(n)], ["doc_id", "text"])
    for trial in range(6):
        deep = trial >= 3
        if deep:
            # self loops, duplicate and reversed edges ride along
            path = rng.sample(range(n), 35)
            edges = list(zip(path, path[1:])) + [
                (rng.randrange(n), rng.randrange(n))
                for _ in range(rng.randrange(5, 15))]
        else:
            edges = sorted({(rng.randrange(n), rng.randrange(n))
                            for _ in range(rng.randrange(15, 60))})
            edges = [e for e in edges if e[0] != e[1]] or [(0, 1)]
        want = uf_labels(n, edges)
        pairs = spark.createDataFrame(edges, ["doc_id_1", "doc_id_2"])
        star_calls.clear()
        got = {r["doc_id"]: r["cluster_id"]
               for r in textops.dedup_clusters(docs, pairs=pairs).collect()}
        assert got == want, (trial, edges)
        if deep:
            assert star_calls == [1], trial


def test_lsh_keep_first_pure_python_crosscheck(spark):
    """INDEPENDENT cross-implementation of lsh_dedup_keep_first: band
    keys recomputed in pure Python from the documented spec (md5-slice
    minhash coordinates, md5 band keys) and the keep-first decision
    re-derived with plain dict logic — kept iff earliest (ds, id)
    presenter of EVERY band key; keyless (short) docs always kept.
    Fixture: exact dups arriving later, graded near-dups, ds ties
    exercising the id tie-break, and a 1-token keyless doc."""
    import hashlib
    import itertools

    def keys_py(text, num_hashes=16, bands=4, n=3):
        toks = text.split(" ")
        sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
        if not sh:
            return []
        mh = []
        for i in range(num_hashes):
            g, j = divmod(i, 4)
            mh.append(min(
                int(hashlib.md5(f"mh{g}:{s}".encode())
                    .hexdigest()[8 * j:8 * j + 8], 16) for s in sh))
        r = num_hashes // bands
        return [(b, hashlib.md5("_".join(
            str(mh[k]) for k in range(b * r, (b + 1) * r)).encode())
            .hexdigest()) for b in range(bands)]

    master = [f"v{i}" for i in range(30)]
    rows = []
    for i in range(8):
        rows.append((i, " ".join(master[i * 2:i * 2 + 12]), 100 + i))
    rows.append((50, rows[0][1], 200))    # exact dup, later -> dropped
    rows.append((51, rows[3][1], 90))     # exact dup, EARLIER -> kept
    rows.append((52, rows[5][1], 105))    # tie on ds with nothing; later
    rows.append((53, "one", 100))         # keyless -> always kept
    rows.append((54, rows[7][1], 107))    # ds TIE with doc 7 -> id break

    first = {}
    for i, t, ds in sorted(rows, key=lambda r: (r[2], r[0])):
        for k in keys_py(t):
            first.setdefault(k, (ds, i))
    want = {i for i, t, ds in rows
            if all(first[k] == (ds, i) for k in keys_py(t))}

    sdf = spark.createDataFrame(rows, ["doc_id", "text", "t"]).selectExpr(
        "doc_id", "text", "timestamp_seconds(t) AS ds")
    got = {r["doc_id"]
           for r in textops.lsh_dedup_keep_first(sdf).collect()}
    assert got == want, (sorted(got), sorted(want))
    assert 53 in got and 50 not in got and 51 in got
    assert 7 in got and 54 not in got  # ds tie broken by id


def test_sequence_pack_bins_pure_python_crosscheck(spark):
    """INDEPENDENT cross-implementation of sequence_pack_bins (VERDICT
    r11 #4): next-fit is ~20 lines of plain Python, so re-derive the
    ENTIRE output — md5 shard, in-shard (md5-hex, id) order, greedy
    maximal-prefix bins, over-window truncation flags — from the
    documented spec with hashlib + lists, no Spark, no DuckDB, no
    numpy searchsorted. The recursive-CTE oracle replays the engine's
    segmentation; this is the third implementation that validates the
    segmentation itself."""
    import hashlib

    def pack_py(rows, window, n_shards):
        # rows: (doc_id, text) -> {doc_id: (shard, n_tokens, bin, pos, trunc)}
        out = {}
        shards = {}
        for i, t in rows:
            h = hashlib.md5(str(i).encode()).hexdigest()
            shards.setdefault(int(h[:15], 16) % n_shards, []).append(
                (h, i, len(t.split(" "))))
        for s, docs in shards.items():
            docs.sort()                      # (md5-hex, doc_id) order
            b, fill, pos = 0, 0, 0
            for h, i, n in docs:
                if fill > 0 and fill + n > window:   # next-fit: close bin
                    b, fill, pos = b + 1, 0, 0
                out[i] = (s, n, b, pos, n > window)
                fill += n
                pos += 1
                if n > window:               # over-window doc sits alone
                    b, fill, pos = b + 1, 0, 0
        return out

    rng = random.Random(12)
    rows = [(i, " ".join(f"t{j}" for j in range(rng.choice(
        [1, 2, 3, 5, 7, 11, 15, 16, 17, 25])))) for i in range(60)]
    window, n_shards = 16, 3
    want = pack_py(rows, window, n_shards)
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["shard"], r["n_tokens"], r["bin"],
                         r["pos_in_bin"], r["truncated"])
           for r in textops.sequence_pack_bins(
               sdf, window=window, n_shards=n_shards).collect()}
    assert got == want
    # the fixture genuinely exercises every branch
    assert any(v[4] for v in want.values())           # truncated docs
    assert len({v[0] for v in want.values()}) == n_shards
    assert max(v[2] for v in want.values()) >= 2      # multiple bins
    # the manifest writer rollup, from the same pure-Python placement:
    # ordered doc:tokens strings per (shard, bin) + fill/truncation sums
    mani = {}
    for i, (s, n, b, pos, tr) in sorted(want.items(),
                                        key=lambda kv: kv[1][3]):
        e = mani.setdefault((s, b), {"n_docs": 0, "fill": 0,
                                     "trunc": False, "parts": []})
        e["n_docs"] += 1
        e["fill"] += n
        e["trunc"] = e["trunc"] or tr
        e["parts"].append(f"{i}:{n}")
    got_m = {(r["shard"], r["bin"]):
             (r["n_docs"], r["n_tokens_filled"], r["truncated"], r["manifest"])
             for r in textops.sequence_pack_bins_manifest(
                 sdf, window=window, n_shards=n_shards).collect()}
    want_m = {kb: (e["n_docs"], e["fill"], e["trunc"], " ".join(e["parts"]))
              for kb, e in mani.items()}
    assert got_m == want_m


def test_ivf_ann_pure_python_crosscheck(spark):
    """INDEPENDENT cross-implementation of ivf_ann_topk (VERDICT r11
    #4): the full trajectory — integer-grid quantization, md5-rank
    seeds, the exact-integer Lloyd assignment/update, stable-argsort
    probe selection, per-cell member scans with 6dp cosine rounding
    and id tie-breaks — re-derived in plain Python + tiny numpy from
    the documented spec (no Spark, no DuckDB, none of the operator's
    kernels). The recursive-CTE oracle replays the engine; this third
    implementation validates the algorithm itself, exactly (the grid
    makes every assignment score an exact integer, so all three
    implementations must agree bitwise)."""
    import hashlib

    import numpy as np

    from polars_ts_spark.operators import embedsim

    GRID = 1048576.0  # 2^20, the documented quantization grid
    dim, n_cells, n_probe, n_iter, k = 8, 4, 2, 2, 3

    rng = random.Random(31)
    rows = [(i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
            for i in range(30)]
    # planted near-dup pair: must surface as mutual top-1
    rows.append((100, [x + 0.001 for x in rows[0][1]]))

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    ids = [i for i, _ in rows]
    v = {i: np.array(x, dtype=np.float64) for i, x in rows}
    q = {i: np.floor(v[i] * GRID + 0.5).astype(np.int64) for i in ids}
    order = sorted(ids, key=lambda i: (h60(str(i)), i))
    cq = [q[i].copy() for i in order[:n_cells]]

    def scores(qi):
        # |cq_j|^2 - 2<q, cq_j>: exact integers on the grid
        return [int((c.astype(object) ** 2).sum() - 2 * int(qi @ c))
                for c in cq]

    for _ in range(n_iter):
        sums = {}
        for i in order:                       # full corpus < train_cap
            a = scores(q[i])
            c = a.index(min(a))               # first min = smaller cell
            s, n = sums.get(c, (np.zeros(dim, dtype=object), 0))
            sums[c] = (s + q[i], n + 1)
        for c, (s, n) in sums.items():
            cq[c] = np.array(
                [int(np.floor(float(s[j]) / float(n) + 0.5))
                 for j in range(dim)], dtype=np.int64)

    probes = {}
    for i in ids:
        a = scores(q[i])
        probes[i] = [c for _, c in sorted((a[c], c) for c in range(n_cells))][:n_probe]
    members = {}
    for i in ids:
        members.setdefault(probes[i][0], []).append(i)

    cand = {}
    for c, mem in members.items():
        for i in ids:
            if c not in probes[i]:
                continue
            scored = sorted(
                (-float(np.round(float(v[i] @ v[m])
                                 / (np.linalg.norm(v[i]) * np.linalg.norm(v[m])),
                                 6)), m)
                for m in mem if m != i)
            for negc, m in scored[:min(k, len(mem))]:   # per-cell top-k
                cand[(i, m)] = max(cand.get((i, m), -2.0), -negc)
    want = {}
    for i in ids:
        nb = sorted((-cos, m) for (vi, m), cos in cand.items() if vi == i)
        want.update({(i, m): (-negc, r + 1)
                     for r, (negc, m) in enumerate(nb[:k])})

    sdf = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r["vec_id"], r["neighbor_id"]): (r["cosine"], r["rank"])
           for r in embedsim.ivf_ann_topk(
               sdf, k=k, n_cells=n_cells, n_probe=n_probe, n_iter=n_iter,
               dim=dim).collect()}
    assert got == want
    assert want[(0, 100)][1] == 1 and want[(100, 0)][1] == 1  # planted pair
    assert len({c for i in ids for c in [probes[i][0]]}) >= 2  # real cells
