"""Giant-single-cluster LSH stress (VERDICT r11 #3, second clause):
time the ``max_bucket`` star degradation path of minhash_lsh_pairs on
a corpus where ONE near-dup cluster dwarfs the cap — N identical
docs all but guarantee every band bucket holds all N signatures, so
the clique path would emit O(N^2) pairs (~2·10^10 at N=200k) while
the star path must stay LINEAR: exactly N-1 (bucket-min, member)
pairs after the cross-band distinct.

Each run asserts the pair count (N-1 star pairs + the planted unique
docs contributing nothing) so a silent fallback to the clique path
would fail loudly before it could OOM the timing claim.

Off-registry by design. Usage: python tools/lsh_giant_stress.py [N ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polars_ts_spark.operators import textops  # noqa: E402
from polars_ts_spark.session import get_spark  # noqa: E402

DUP_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"


def run(spark, n: int, n_unique: int = 1000) -> dict:
    dup = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(DUP_TEXT).alias("text"))
    # unique tails (distinct vocab per doc) — they must neither pair
    # with the giant cluster nor with each other
    uniq = spark.range(n, n + n_unique).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", *[F.concat(F.lit(f"u{i}_"), F.col("id").cast("string"))
                   for i in range(12)]).alias("text"))
    docs = dup.unionByName(uniq)
    t0 = time.monotonic()
    n_pairs = textops.minhash_lsh_pairs(docs, max_bucket=4096).count()
    dt = time.monotonic() - t0
    assert n_pairs == n - 1, (n_pairs, n - 1)
    return {"n_dup_docs": n, "n_unique": n_unique,
            "giant_bucket_over_cap": round(n / 4096, 1),
            "wall_s": round(dt, 2), "n_pairs": n_pairs}


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [50_000, 200_000]
    spark = get_spark("lsh-giant-stress")
    out = []
    for n in sizes:
        r = run(spark, n)
        print(json.dumps(r), flush=True)
        out.append(r)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
