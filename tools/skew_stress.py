"""Skew-stress for the sampled-cutoff bucketing claim (VERDICT r10
#4): corpus_curation's docstrings argue the exact per-language NTILE
degrades when one web language dominates (the rank window becomes a
near-global sort on a single partition key) while the sampled-cutoff
path confines the sort to a 1/sample_mod sample. The shipped 100x
corpus has a flat label mix, so the claim was never measured under
skew. This probe synthesizes a 95%-one-predicted-language corpus
(marker-token construction, so the skew is in lang_pred — the column
the window actually partitions by — not just the label), then
measures, per corpus size:

- wall time of perplexity_buckets (exact NTILE) vs
  perplexity_buckets_from_cutoffs (sampled) on the SAME input,
- the +-1-bucket agreement rate between the two assignments
  (the sampled path approximates the exact contract; Wenzek et al.
  2020 SS4 train cutoffs on held-out data for the same reason).

Off-registry by design — the correctness gate never reads its
output. Usage: python tools/skew_stress.py [n_docs ...]
Env: SKEW_SAMPLE_MOD (default 4) — the sampled leg's 1/mod draw; the
round-12 amortization claim (higher mod -> the extra cutoff-training
pass vanishes) is measured by re-running at mod 64.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

import pandas as pd
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_ts_spark.operators import textops  # noqa: E402
from polars_ts_spark.session import get_spark  # noqa: E402

EN = ["the", "a", "of", "and", "to"]          # en markers
DE = ["der", "und", "nicht", "ist", "das"]    # de markers
FILL = ["spark", "window", "merge", "tableau", "columnar", "vectoriz",
        "streamz", "valu", "datum", "smol", "joinery", "filtr"]


def make_skewed(n_docs: int, frac_major: float = 0.95,
                seed: int = 11) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        markers = EN if rng.random() < frac_major else DE
        n = rng.randint(10, 99)
        toks = [rng.choice(FILL) for _ in range(n)]
        # 3 marker hits guarantee the intended argmax in language_id
        for _ in range(3):
            toks[rng.randrange(n)] = rng.choice(markers)
        rows.append((d, " ".join(toks)))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def make_skewed_dist(spark, n_docs: int, frac_major: float = 0.95,
                     seed: int = 11):
    """Distributed twin of make_skewed for the 5M/10M sizes (VERDICT
    r12 #5): the driver-side pandas build is ~350 B/doc and would ship
    multi-GB task closures past 1-2M docs. Construction is per-doc
    deterministic (seeded by doc_id), same marker scheme — a DIFFERENT
    corpus than the driver build at the same n, which is fine because
    the probe's claim is relative wall time of two paths on the SAME
    input."""
    def gen(batches):
        for pdf_in in batches:
            ids = pdf_in["id"].tolist()
            texts = []
            for d in ids:
                rng = random.Random((seed << 34) ^ int(d))
                markers = EN if rng.random() < frac_major else DE
                n = rng.randint(10, 99)
                toks = [rng.choice(FILL) for _ in range(n)]
                for _ in range(3):
                    toks[rng.randrange(n)] = rng.choice(markers)
                texts.append(" ".join(toks))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    return (spark.range(n_docs).repartition(64)
            .mapInPandas(gen, "doc_id long, text string"))


def run(spark, n_docs: int) -> dict:
    if n_docs > 1_500_000:
        docs = make_skewed_dist(spark, n_docs).cache()
    else:
        pdf = make_skewed(n_docs)
        docs = spark.createDataFrame(pdf).repartition(32).cache()
    docs.count()
    langs = {r["lang_pred"]: r["n"] for r in
             textops.language_id(docs).groupBy("lang_pred")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    t0 = time.monotonic()
    exact = textops.perplexity_buckets(docs).select(
        "doc_id", F.col("bucket").alias("b_exact")).cache()
    exact.count()
    t_exact = time.monotonic() - t0
    t0 = time.monotonic()
    samp = textops.perplexity_buckets_from_cutoffs(
        docs, sample_mod=int(os.environ.get("SKEW_SAMPLE_MOD", "4"))).select(
        "doc_id", F.col("bucket").alias("b_samp")).cache()
    samp.count()
    t_samp = time.monotonic() - t0
    j = exact.join(samp, "doc_id")
    agree = j.agg(
        F.avg((F.col("b_exact") == F.col("b_samp")).cast("double"))
        .alias("eq"),
        F.avg((F.abs(F.col("b_exact") - F.col("b_samp")) <= 1)
              .cast("double")).alias("pm1"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    for d in (docs, exact, samp):
        d.unpersist()
    return {"n_docs": n_docs, "lang_mix": langs,
            "sample_mod": int(os.environ.get("SKEW_SAMPLE_MOD", "4")),
            "t_exact_s": round(t_exact, 2), "t_sampled_s": round(t_samp, 2),
            "exact_over_sampled": round(t_exact / t_samp, 2),
            "bucket_agree": round(agree["eq"], 4),
            "bucket_agree_pm1": round(agree["pm1"], 4)}


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [5_000, 50_000]
    spark = get_spark("skew-stress")
    out = [run(spark, n) for n in sizes]
    print(json.dumps(out))


if __name__ == "__main__":
    main()
