"""Bucketed-table co-located joins: the write-time pre-shuffle that
eliminates the runtime Exchange for repeated large-to-large joins
(prompt requirement "bucketing for co-located joins"). The assertion is
on the PHYSICAL PLAN — no Exchange node of any kind — with broadcast
disabled so table size cannot fake the result."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from polars_ts_spark.sources import bucketing

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR),
    reason=f"test data dir {SF_DIR} absent (set SPARK_GRAFT_SF_DIR_SMALL)",
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_bucketed_join_plans_zero_exchanges(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("bucketed"))
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("orderkey"), "l_extendedprice")
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority")
    )
    bucketing.write_bucketed(li, "t_li_bkt", ["orderkey"], num_buckets=4,
                             path=os.path.join(base, "li"))
    bucketing.write_bucketed(orders, "t_ord_bkt", ["orderkey"], num_buckets=4,
                             path=os.path.join(base, "ord"))
    try:
        with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
            joined = bucketing.colocated_join(spark, "t_li_bkt", "t_ord_bkt",
                                              on=["orderkey"])
            plan = _plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan  # bucket-aligned scans, no shuffle
            # and the result is the plain join's result
            n = joined.count()
            plain = li.join(orders, "orderkey").count()
            assert n == plain and n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bkt")
        spark.sql("DROP TABLE IF EXISTS t_ord_bkt")


def test_unbucketed_same_join_does_shuffle(spark):
    """Control: the identical join over plain scans NEEDS two exchanges —
    proving the zero-exchange plan above is the bucketing, not AQE."""
    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select(F.col("l_orderkey").alias("orderkey"), "l_extendedprice")
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority")
    )
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        plan = _plan(li.join(orders, "orderkey"))
        # formatted mode names nodes "(n) Exchange" with the partitioning
        # in the details block — count node headers
        assert sum(ln.strip().endswith("Exchange")
                   for ln in plan.splitlines()) >= 2, plan


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    path = os.path.join(str(tmp_path_factory.mktemp("part")), "docs")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bucketing.write_partitioned(docs, path, ["lang"])
    rd = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = _plan(rd)
    scan = plan[plan.index("PartitionFilters"):].splitlines()[0]
    assert "lang" in scan and "en" in scan, plan  # pruned at the directory level
    # correctness: the pruned read returns exactly the en slice
    assert rd.count() == docs.filter("lang = 'en'").count() > 0


def test_salted_join_equals_plain_join_and_spreads_hot_key(spark):
    import pandas as pd

    # one mega-key (90% of rows) + a tail
    big = spark.createDataFrame(pd.DataFrame({
        "k": [1] * 900 + list(range(2, 102)),
        "v": range(1000),
    }))
    small = spark.createDataFrame(pd.DataFrame({
        "k": range(1, 102),
        "name": [f"n{i}" for i in range(1, 102)],
    }))
    salted = bucketing.salted_join(big, small, ["k"], salt=8)
    expect = big.join(small, "k").groupBy("k").count()
    got = salted.groupBy("k").count()
    assert {(r["k"], r["count"]) for r in got.collect()} == \
           {(r["k"], r["count"]) for r in expect.collect()}
    # the join really runs on (k, __salt): the hot key occupies several
    # salt values, not one
    b = big.withColumn("__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                                        F.lit(8)))
    n_salts = b.filter("k = 1").select("__salt").distinct().count()
    assert n_salts >= 4


def test_salted_join_left_semantics_and_rejects_right(spark):
    import pandas as pd

    import pytest as _pt

    big = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2, 9], "v": [0, 1, 2, 3]}))
    small = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "name": ["a", "b"]}))
    left = bucketing.salted_join(big, small, ["k"], salt=4, how="left")
    rows = {(r["k"], r["v"], r["name"]) for r in left.collect()}
    # unmatched big row survives exactly once (each big row has ONE salt)
    assert (9, 3, None) in rows and len(rows) == 4
    with _pt.raises(ValueError):
        bucketing.salted_join(big, small, ["k"], how="right")
    with _pt.raises(ValueError):
        bucketing.salted_join(big, small, ["k"], how="full_outer")
    with _pt.raises(ValueError):
        bucketing.salted_join(big, small, ["k"], salt=0)
    with _pt.raises(ValueError):
        bucketing.salted_join(big.withColumn("__salt", F.lit(1)), small, ["k"])


def test_load_dataset_sha256_verify_and_cache(spark, tmp_path_factory):
    import hashlib

    from polars_ts_spark.sources.datasets import load_dataset

    base = str(tmp_path_factory.mktemp("dl"))
    src = f"{SF_DIR}/region.parquet"
    digest = hashlib.sha256(open(src, "rb").read()).hexdigest()
    cache = os.path.join(base, "cache")
    df = load_dataset(spark, "region", f"file://{src}", digest, cache_dir=cache)
    assert df.count() > 0
    cached = os.path.join(cache, "region.parquet")
    assert os.path.exists(cached)
    # tampered cache entry re-fetches instead of silently loading
    with open(cached, "ab") as f:
        f.write(b"corruption")
    df2 = load_dataset(spark, "region", f"file://{src}", digest, cache_dir=cache)
    assert df2.count() == df.count()
    # wrong digest raises and removes the bad payload
    with pytest.raises(ValueError, match="sha256 mismatch"):
        load_dataset(spark, "region_bad", f"file://{src}", "0" * 64, cache_dir=cache)
    assert not os.path.exists(os.path.join(cache, "region_bad.parquet"))


def test_load_dataset_rejects_path_like_names(spark, tmp_path_factory):
    import hashlib

    from polars_ts_spark.sources.datasets import load_dataset

    src = f"{SF_DIR}/region.parquet"
    digest = hashlib.sha256(open(src, "rb").read()).hexdigest()
    cache = str(tmp_path_factory.mktemp("dlsafe"))
    with pytest.raises(ValueError, match="bare identifier"):
        load_dataset(spark, "../evil", f"file://{src}", digest, cache_dir=cache)


def test_load_dataset_atomic_fetch_leaves_no_partial(spark, tmp_path_factory):
    import hashlib

    from polars_ts_spark.sources.datasets import load_dataset

    base = str(tmp_path_factory.mktemp("dl_atomic"))
    src = f"{SF_DIR}/region.parquet"
    cache = os.path.join(base, "cache")
    # failed verify: neither the final path nor any temp file survives
    with pytest.raises(ValueError, match="sha256 mismatch"):
        load_dataset(spark, "r_atomic", f"file://{src}", "0" * 64, cache_dir=cache)
    assert os.listdir(cache) == []
    # success: the verified payload lands atomically at the final path
    digest = hashlib.sha256(open(src, "rb").read()).hexdigest()
    df = load_dataset(spark, "r_atomic", f"file://{src}", digest, cache_dir=cache)
    assert df.count() > 0
    assert os.listdir(cache) == ["r_atomic.parquet"]
