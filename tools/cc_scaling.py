"""Wall-clock scaling rows for dedup_clusters. The probe measures the
components engine itself — pairs are SUPPLIED, so minhash cost is
excluded — on two corpus shapes per size:

- ``planted``: n docs in n/5 clusters of 5 (consecutive-id chains of
  diameter 4) — the shallow shape real near-dup corpora have; label
  propagation converges inside its rounds and star contraction never
  runs.
- ``chain``: ONE chain of length n (diameter n-1) — the adversarial
  shape; propagation runs out of rounds and the star fallback must
  finish in O(log^2 n) rounds, whatever the diameter.

Everything is generated DISTRIBUTED (spark.range expressions — no
driver-side pandas), each run counts the Spark jobs of its own job
group, and each run asserts the planted component count, so a
mislabeling cannot masquerade as a fast run.

Off-registry by design. Usage: python tools/cc_scaling.py [n ...]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from polars_ts_spark.operators import textops  # noqa: E402
from polars_ts_spark.session import free_blocks, get_spark  # noqa: E402


def _docs(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("d").alias("text"))


def run(spark, n: int, shape: str) -> dict:
    docs = _docs(spark, n)
    if shape == "planted":
        edges = (
            spark.range(n - 1)
            .where((F.col("id") + 1) % 5 != 0)  # stay inside the 5-cluster
            .select(F.col("id").alias("doc_id_1"),
                    (F.col("id") + 1).alias("doc_id_2"))
        )
        want_clusters = (n + 4) // 5
    elif shape == "chain":
        edges = spark.range(n - 1).select(
            F.col("id").alias("doc_id_1"), (F.col("id") + 1).alias("doc_id_2"))
        want_clusters = 1
    else:
        raise ValueError(shape)
    sc = spark.sparkContext
    group = f"cc_scaling/{shape}/{n}"
    sc.setJobGroup(group, group)
    t0 = time.monotonic()
    out = textops.dedup_clusters(docs, pairs=edges)
    got = out.agg(
        F.countDistinct("cluster_id").alias("k"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    dt = time.monotonic() - t0
    sc.setJobGroup("cc_scaling/idle", "outside the timed span")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    free_blocks(spark)
    assert got["n"] == n, (got["n"], n)
    assert got["k"] == want_clusters, (got["k"], want_clusters)
    return {"shape": shape, "n_docs": n, "wall_s": round(dt, 2),
            "spark_jobs": n_jobs, "n_clusters": got["k"]}


def main():
    sizes = [int(a) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]
    spark = get_spark("cc-scaling")
    out = []
    for n in sizes:
        for shape in ("planted", "chain"):
            r = run(spark, n, shape)
            print(json.dumps(r), flush=True)
            out.append(r)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
