"""Pairwise distance engine (SURVEY §2.8, the reference's signature
capability; src/utils.rs:168-234 compute_pairwise).

Spark plan:
1. ``groupBy(id).agg(array_agg sorted by ds)`` per input — one shuffle,
   map-side combinable.
2. cross join left × right with the reference's dedup predicate
   (src/utils.rs:220-226): drop ``id_1 == id_2``; when a pair exists in
   both inputs, keep only ``id_1 < id_2`` (symmetric dedup halves work).
   For the common self-pairwise case this Catalyst-simplifies to
   ``id_1 < id_2``.
3. Arrow-batched pandas iterator (`mapInPandas`) running the numpy
   anti-diagonal DP kernels (functions/dist_kernels.py).

Scale notes: the cross join is the only O(n²) plan in the engine. The
grouped side is n_series rows (arrays inline). For n_series small enough
to broadcast we broadcast the right side (no shuffle); otherwise Spark
falls back to a partitioned cross join and tasks stream pair blocks —
the kernel cost dominates, so task balance = pair balance. Rayon's
pair-parallelism (utils.rs:212) maps to task parallelism here.

Output: [id_1, id_2, <metric>] with input id dtype preserved
(src/utils.rs:304-337).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.functions import dist_kernels as K
from polars_ts_spark.panel import ID, TARGET, TIME, require_columns

_PARAM_DEFAULTS = {
    "dtw": {"param": None},        # None -> standard; int -> sakoe_chiba; "itakura"/"fast" via variant kwarg
    "ddtw": {},
    "wdtw": {"g": 0.05},
    "msm": {"c": 1.0},
    "erp": {"g": 0.0},
    "lcss": {"epsilon": 1.0},
    "twe": {"nu": 0.001, "lambda": 1.0},
    "sbd": {},
    "frechet": {},
    "edr": {"epsilon": 0.1},
}


def _grouped_arrays(df: DataFrame, id_col: str, time_col: str, target_col: str,
                    out_id: str, out_vals: str) -> DataFrame:
    """One row per series: (id string, values array<double>) ordered by time."""
    return df.groupBy(F.col(id_col).cast("string").alias(out_id)).agg(
        F.expr(
            f"transform(array_sort(collect_list(struct({time_col} as t, "
            f"cast({target_col} as double) as v))), s -> s.v)"
        ).alias(out_vals)
    )


def _batch_kernel_fn(method: str, variant: str | None, kwargs: dict):
    """Return fn(A, B) -> (k,) operating on stacked (k, n)/(k, m) pairs."""
    if method == "dtw":
        if variant == "sakoe_chiba":
            w = int(kwargs.get("param", 10))
            return lambda A, B: K.dtw_sakoe_chiba_batch(A, B, w)
        if variant == "itakura":
            s = float(kwargs.get("param", 2.0))
            return lambda A, B: K.dtw_itakura_batch(A, B, s)
        if variant == "fast":
            r = int(kwargs.get("param", 5))
            return lambda A, B: np.array([K.dtw_fast(a, b, r) for a, b in zip(A, B)])
        return K.dtw_batch
    if method == "wdtw":
        g = float(kwargs.get("g", 0.05))
        return lambda A, B: K.wdtw_batch(A, B, g)
    if method == "msm":
        c = float(kwargs.get("c", 1.0))
        return lambda A, B: K.msm_batch(A, B, c)
    if method == "erp":
        g = float(kwargs.get("g", 0.0))
        return lambda A, B: K.erp_batch(A, B, g)
    if method == "lcss":
        e = float(kwargs.get("epsilon", 1.0))
        return lambda A, B: K.lcss_batch(A, B, e)
    if method == "twe":
        nu, lam = float(kwargs.get("nu", 0.001)), float(kwargs.get("lambda", 1.0))
        return lambda A, B: K.twe_batch(A, B, nu, lam)
    if method == "edr":
        e = float(kwargs.get("epsilon", 0.1))
        return lambda A, B: K.edr_batch(A, B, e)
    if method in ("ddtw", "sbd", "frechet"):
        return K.BATCH_METRICS[method]
    raise ValueError(f"unknown distance method {method!r}; choose from {sorted(_PARAM_DEFAULTS)}")


# Elements of the partner-side array table above which the broadcast
# pairing path falls back to the pair-row cross join (which can stream
# both sides). 32M float64 = 256 MB — the same order at which
# F.broadcast() of the grouped side stops being advisable anyway.
_BC_ELEMS_CAP = 32_000_000


def _pair_block_join(g1: DataFrame, g2: DataFrame, n_parts: int, partner_big: bool) -> DataFrame:
    """All-pairs frame from grouped sides (id_1,__v1)×(id_2,__v2).

    partner_big=False: spread the stream side, join-broadcast the
    partner — zero shuffle of pair rows.

    partner_big=True: blocked B×B grid join. Each side is hashed into
    B blocks on its id and replicated B times tagged with the
    orthogonal block index; a plain shuffled equi-join on
    (block_i, block_j) then forms every pair cell with NO broadcast
    anywhere — a join-side F.broadcast here would re-create exactly
    the memory blow-up this path exists to avoid. Shuffle volume is
    B×(|g1|+|g2|), the standard replication cost of a distributed
    cross product; B² ≈ n_parts cells keep every core busy while each
    cell streams only (n/B)·(m/B) pairs through mapInPandas.
    """
    if not partner_big:
        return g1.repartition(n_parts).crossJoin(F.broadcast(g2))
    n_blocks = max(2, int(np.ceil(np.sqrt(n_parts))))
    grid = F.array(*[F.lit(b) for b in range(n_blocks)])
    g1b = (
        g1.withColumn("__bi", F.pmod(F.xxhash64(F.col("id_1").cast("string")), F.lit(n_blocks)).cast("int"))
        .withColumn("__bj", F.explode(grid))
    )
    g2b = (
        g2.withColumn("__bj", F.pmod(F.xxhash64(F.col("id_2").cast("string")), F.lit(n_blocks)).cast("int"))
        .withColumn("__bi", F.explode(grid))
    )
    # shuffle_hash hint pins a shuffled join even when a unit test
    # plants a tiny panel (AQE would otherwise re-broadcast g2b)
    return g1b.hint("shuffle_hash").join(g2b, ["__bi", "__bj"]).drop("__bi", "__bj")


def compute_pairwise_distance(
    df1: DataFrame,
    df2: DataFrame | None = None,
    method: str = "dtw",
    variant: str | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    **kwargs,
) -> DataFrame:
    """All-pairs distance -> [id_1, id_2, <method>] (distance.py:45-169).

    Fast path: the partner side's (n_series, len) array table rides a
    Spark broadcast variable ONCE per executor, tasks stream only their
    own series and enumerate partners in-process. The pair-row cross
    join materialized every series ~n_series times through Arrow
    (500k pair rows × both arrays at 1k series) — the broadcast path
    moves each side once, and the symmetric-dedup "id_1 < id_2" rule
    becomes a sorted-slice lookup instead of a filtered join. Falls
    back to the cross-join plan when the partner table exceeds
    _BC_ELEMS_CAP (same memory constraint the broadcast join had).
    """
    require_columns(df1, id_col, time_col, target_col)
    if df2 is not None:
        require_columns(df2, id_col, time_col, target_col)
    id_dtype = dict(df1.dtypes)[id_col]
    same = df2 is None
    spark = df1.sparkSession
    g1s = _grouped_arrays(df1, id_col, time_col, target_col, "id_1", "__v1")
    g2s = (
        g1s.withColumnRenamed("id_1", "id_2").withColumnRenamed("__v1", "__v2")
        if same
        else _grouped_arrays(df2, id_col, time_col, target_col, "id_2", "__v2")
    )
    # Size-gate BEFORE any driver materialization, WITHOUT an extra
    # input scan: persist the grouped frame the plan needs anyway, and
    # let the sizing job (sum of array lengths == input row count) be
    # the job that populates the cache — the subsequent collect() then
    # reads the cached grouped arrays instead of re-scanning parquet.
    # Never "collect, then check whether collecting was safe".
    g1s = g1s.persist()
    elems1 = g1s.agg(F.sum(F.size("__v1"))).first()[0] or 0
    elems2 = elems1
    if not same:
        g2s = g2s.persist()
        elems2 = g2s.agg(F.sum(F.size("__v2"))).first()[0] or 0
    try:
        if elems1 + (0 if same else elems2) > _BC_ELEMS_CAP:
            return _pairwise_crossjoin(
                df1, df2, method, variant, id_col, time_col, target_col, id_dtype,
                partner_elems=elems2, **kwargs
            )
        rows2 = g2s.collect()
        rows1 = rows2 if same else g1s.collect()
    finally:
        g1s.unpersist()
        if not same:
            g2s.unpersist()
    fn = _batch_kernel_fn(method, variant, kwargs)
    if not rows1 or not rows2:
        out = spark.createDataFrame([], f"id_1 string, id_2 string, {method} double")
        if id_dtype != "string":
            out = out.withColumn("id_1", F.col("id_1").cast(id_dtype)).withColumn(
                "id_2", F.col("id_2").cast(id_dtype)
            )
        return out
    common = None if same else {r[0] for r in rows1} & {r[0] for r in rows2}
    bc = spark.sparkContext.broadcast(
        (
            {r[0]: np.asarray(r[1], dtype=float) for r in rows1},
            sorted((r[0], np.asarray(r[1], dtype=float)) for r in rows2),
        )
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # stream side is just the id list (arrays ride the broadcast);
    # round-robin repartition balances the triangular pair counts
    stream = spark.createDataFrame(
        pd.DataFrame({"id_1": [r[0] for r in rows1]})
    ).repartition(n_parts)

    def compute(batches):
        # per-length partner stacks built once per task, ids sorted so
        # the same-input dedup (id_2 > id_1) is a searchsorted slice
        vecs1, pairs2 = bc.value
        by_len: dict[int, list[int]] = {}
        for j, (_, v) in enumerate(pairs2):
            by_len.setdefault(len(v), []).append(j)
        groups = []
        for L, js in by_len.items():
            gids = np.array([pairs2[j][0] for j in js])
            mat = np.stack([pairs2[j][1] for j in js]) if L else np.empty((len(js), 0))
            in_common = (
                None if same else np.array([i in common for i in gids.tolist()], dtype=bool)
            )
            groups.append((gids, mat, in_common))
        for pdf in batches:
            o1, o2, od = [], [], []
            for id1 in pdf["id_1"]:
                a = vecs1[id1]
                in1_common = False if same else id1 in common
                for gids, mat, in_common in groups:
                    if same:
                        # partners strictly greater than id1 (sorted ids)
                        s = int(np.searchsorted(gids, id1, side="right"))
                        pid, pm = gids[s:], mat[s:]
                    else:
                        keep = gids != id1
                        if in1_common:
                            keep &= ~in_common | (id1 < gids)
                        pid, pm = gids[keep], mat[keep]
                    kq = len(pid)
                    if kq == 0:
                        continue
                    n_, m_ = len(a), pm.shape[1]
                    dist = np.empty(kq)
                    k_max = max(32, 22528 // max(n_, m_, 1))
                    A_full = np.broadcast_to(a, (kq, n_))
                    for c0 in range(0, kq, k_max):
                        dist[c0:c0 + k_max] = fn(
                            A_full[c0:c0 + k_max], pm[c0:c0 + k_max]
                        )
                    o1.append(np.full(kq, id1))
                    o2.append(pid)
                    od.append(dist)
            yield pd.DataFrame(
                {
                    "id_1": np.concatenate(o1) if o1 else np.array([], dtype=str),
                    "id_2": np.concatenate(o2) if o2 else np.array([], dtype=str),
                    method: np.concatenate(od) if od else np.array([], dtype=float),
                }
            )

    out = stream.mapInPandas(compute, schema=f"id_1 string, id_2 string, {method} double")
    if id_dtype != "string":
        out = out.withColumn("id_1", F.col("id_1").cast(id_dtype)).withColumn(
            "id_2", F.col("id_2").cast(id_dtype)
        )
    return out


def _pairwise_crossjoin(
    df1: DataFrame,
    df2: DataFrame | None,
    method: str,
    variant: str | None,
    id_col: str,
    time_col: str,
    target_col: str,
    id_dtype: str,
    partner_elems: int = 0,
    **kwargs,
) -> DataFrame:
    """Pair-row cross-join fallback for panels too big for the
    broadcast-variable fast path. Two plans:

    - partner side alone still fits under _BC_ELEMS_CAP: spread the
      stream side, join-broadcast the partner (no shuffle of pairs).
    - partner side is itself over the cap: blocked B×B grid join —
      each side is hashed into B blocks on its id and replicated B
      times tagged with the orthogonal block index, then a plain
      shuffled equi-join on (block_i, block_j) forms every pair cell
      with NO broadcast anywhere (a join-side F.broadcast here would
      re-create exactly the memory blow-up this fallback exists to
      avoid). Shuffle volume is B×(|g1|+|g2|) — the standard
      replication cost of a distributed cross product — and each of
      the B² cells streams (n/B)·(m/B) pairs through mapInPandas.
    """
    same = df2 is None
    # cache: both cross-join sides (and the dedup id lists) re-read this
    # tiny frame (n_series rows of arrays); without it the whole upstream
    # panel aggregation runs once per consumer
    g1 = _grouped_arrays(df1, id_col, time_col, target_col, "id_1", "__v1").cache()
    if same:
        g2 = g1.withColumnRenamed("id_1", "id_2").withColumnRenamed("__v1", "__v2")
    else:
        g2 = _grouped_arrays(df2, id_col, time_col, target_col, "id_2", "__v2").cache()

    # Pre-join repartition of the STREAM side: AQE coalesces the small
    # grouped agg to one partition, and a single-partition cross join
    # would generate (and then shuffle) every pair in one task. With the
    # stream side spread and the other side broadcast, pair generation
    # and the kernel run in the same n_parts parallel tasks — no
    # post-join shuffle of wide array rows at all.
    n_parts = int(df1.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    pairs = _pair_block_join(g1, g2, n_parts, partner_elems > _BC_ELEMS_CAP).filter(
        F.col("id_1") != F.col("id_2")
    )
    if same:
        pairs = pairs.filter(F.col("id_1") < F.col("id_2"))
    else:
        # symmetric dedup only for ids present in BOTH inputs (utils.rs:222-226)
        ids1 = g1.select(F.col("id_1").alias("__ida")).distinct()
        ids2 = g2.select(F.col("id_2").alias("__idb")).distinct()
        both = ids1.join(ids2, ids1["__ida"] == ids2["__idb"]).select(F.col("__ida").alias("__both_id"))
        pairs = (
            pairs.join(F.broadcast(both.withColumnRenamed("__both_id", "__b1")),
                       F.col("id_1") == F.col("__b1"), "left")
            .join(F.broadcast(both.withColumnRenamed("__both_id", "__b2")),
                  F.col("id_2") == F.col("__b2"), "left")
            .filter(F.col("__b1").isNull() | F.col("__b2").isNull() | (F.col("id_1") < F.col("id_2")))
            .drop("__b1", "__b2")
        )

    fn = _batch_kernel_fn(method, variant, kwargs)

    def compute(batches):
        # batch-vectorized: group the partition's pairs by (len_a, len_b),
        # stack each group into (k, n)/(k, m) and run the DP once per
        # group — the pair axis is the SIMD axis (see dist_kernels.py)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v1 = [np.asarray(v, dtype=float) for v in pdf["__v1"]]
            v2 = [np.asarray(v, dtype=float) for v in pdf["__v2"]]
            out = np.empty(len(pdf))
            shapes: dict[tuple[int, int], list[int]] = {}
            for idx, (a, b) in enumerate(zip(v1, v2)):
                shapes.setdefault((len(a), len(b)), []).append(idx)
            for (n_, m_), idxs in shapes.items():
                # cap the stack so the DP + scratch buffers stay
                # cache-resident — the diagonal sweep re-reads them
                # (n+m) times, and DRAM-bound stacks are ~7x slower
                # than cache-resident ones. Sweep-measured optimum is
                # ~22k elements per (k, n) buffer (~176 KB) regardless
                # of series length; all 32 workers share the L3, so
                # smaller beats python-dispatch savings of bigger stacks
                k_max = max(32, 22528 // max(n_, m_, 1))
                for c0 in range(0, len(idxs), k_max):
                    cidx = idxs[c0:c0 + k_max]
                    A = np.stack([v1[i] for i in cidx])
                    B = np.stack([v2[i] for i in cidx])
                    out[cidx] = fn(A, B)
            yield pd.DataFrame({"id_1": pdf["id_1"], "id_2": pdf["id_2"], method: out})

    out = pairs.mapInPandas(compute, schema=f"id_1 string, id_2 string, {method} double")
    if id_dtype != "string":
        out = out.withColumn("id_1", F.col("id_1").cast(id_dtype)).withColumn(
            "id_2", F.col("id_2").cast(id_dtype)
        )
    return out


def compute_pairwise_distance_multi(
    df1: DataFrame,
    df2: DataFrame | None = None,
    method: str = "dtw_multi",
    value_cols: list[str] | None = None,
    metric: str = "manhattan",
    c: float = 1.0,
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """Multivariate pairwise distances (dtw_multi / msm_multi) over the
    non-id/time columns as channels (src/utils.rs:89-162 data model)."""
    require_columns(df1, id_col, time_col)
    cols = value_cols or [c_ for c_ in df1.columns if c_ not in (id_col, time_col)]
    if df2 is not None:
        require_columns(df2, id_col, time_col, *cols)
    struct_fields = ", ".join(f"cast(`{c_}` as double) as `{c_}`" for c_ in cols)
    arr = (
        f"transform(array_sort(collect_list(struct({time_col} as t, {struct_fields}))), "
        f"s -> array({', '.join('s.`%s`' % c_ for c_ in cols)}))"
    )

    def grouped(df, out_id, out_vals):
        return df.groupBy(F.col(id_col).cast("string").alias(out_id)).agg(
            F.expr(arr).alias(out_vals)
        )

    id_dtype = dict(df1.dtypes)[id_col]
    g1 = grouped(df1, "id_1", "__v1").cache()
    g2 = (
        g1.withColumnRenamed("id_1", "id_2").withColumnRenamed("__v1", "__v2")
        if df2 is None else grouped(df2, "id_2", "__v2").cache()
    )
    n_parts = int(df1.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # sizing scalar doubles as the job that populates g1's cache
    partner_elems = (
        (g2 if df2 is not None else g1.select(F.col("__v1").alias("__v2")))
        .agg(F.sum(F.size("__v2")) * len(cols)).first()[0] or 0
    )
    pairs = _pair_block_join(g1, g2, n_parts, partner_elems > _BC_ELEMS_CAP).filter(
        F.col("id_1") != F.col("id_2")
    )
    if df2 is None:
        pairs = pairs.filter(F.col("id_1") < F.col("id_2"))

    kern = (lambda A, B: K.dtw_multi(A, B, metric)) if method == "dtw_multi" else (
        lambda A, B: K.msm_multi(A, B, c))

    def compute(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            vals = [
                kern(np.asarray([list(r) for r in v1], dtype=float),
                     np.asarray([list(r) for r in v2], dtype=float))
                for v1, v2 in zip(pdf["__v1"], pdf["__v2"])
            ]
            yield pd.DataFrame({"id_1": pdf["id_1"], "id_2": pdf["id_2"], method: vals})

    out = pairs.mapInPandas(compute, schema=f"id_1 string, id_2 string, {method} double")
    if id_dtype != "string":
        out = out.withColumn("id_1", F.col("id_1").cast(id_dtype)).withColumn(
            "id_2", F.col("id_2").cast(id_dtype)
        )
    return out
