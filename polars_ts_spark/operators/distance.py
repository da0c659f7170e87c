"""Pairwise distance engine (SURVEY §2.8, the reference's signature
capability; src/utils.rs:168-234 compute_pairwise).

Spark plan — one plan for univariate and multivariate inputs, one or two
frames:
1. ``groupBy(id).agg(ordered_values)`` per input — one shuffle, one row
   per series holding its time-ordered values.
2. With two inputs, a count over the union of both grouped sides,
   windowed by id, tags each series with whether its id is present in
   both inputs.
3. Grid of r × c cells, r = ⌊√n⌋ and c = ⌊n / r⌋ for n shuffle
   partitions: the left side is hashed into r blocks on its id and replicated c times,
   the right side into c blocks replicated r times, so cell (i, j)
   holds left block i and right block j. Shuffle volume is
   c·|g1| + r·|g2|, the standard replication cost of a distributed
   cross product; no side is collected or broadcast, so no input size
   has to be checked on the driver first.
4. ``cogroup`` on the cell. The cell key is chosen so that Spark's hash
   partitioning gives every cell its own task, and the explicit
   repartition keeps AQE from coalescing the byte-small cell shuffle
   into one task. Each cell runs the numpy/C DP kernels
   (functions/dist_kernels.py) over stacks of equal-length partners.
   The reference's dedup (src/utils.rs:220-226) is a mask there: drop
   ``id_1 == id_2``; when both ids are present in both inputs, keep
   only ``id_1 < id_2`` (for one input that is every pair, so the
   symmetric dedup halves the work).

Rayon's pair-parallelism (utils.rs:212) maps to cell parallelism here.

Output: [id_1, id_2, <metric>] with input id dtype preserved
(src/utils.rs:304-337).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_ts_spark.functions import dist_kernels as K
from polars_ts_spark.operators.kernel import _partition_labels
from polars_ts_spark.panel import ID, TARGET, TIME, ordered_values, require_columns

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


def _cell_fn(method: str, fn, channels: int | None):
    """Pandas cogroup function for one grid cell: every kept pair of
    (left block, right block) -> [id_1, id_2, method]. With ``channels``
    the flattened values are reshaped to (len, channels)."""

    def values(v) -> np.ndarray:
        a = np.asarray(v, dtype=float)
        return a if channels is None else a.reshape(-1, channels)

    empty = pd.DataFrame({"id_1": np.array([], dtype=str), "id_2": np.array([], dtype=str),
                          method: np.array([], dtype=float)})

    def cell(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        o1, o2, od = [], [], []
        # partner stacks built once per cell, one per series length
        ids2 = np.asarray(right["id_2"].tolist(), dtype=str)
        both2 = right["__c2"].to_numpy(dtype=bool)
        vals2 = [values(v) for v in right["__v2"]]
        by_len: dict[int, list[int]] = {}
        for j, v in enumerate(vals2):
            by_len.setdefault(len(v), []).append(j)
        groups = [(ids2[js], np.stack([vals2[j] for j in js]), both2[js]) for js in by_len.values()]
        for id1, v1, both1 in zip(left["id_1"], left["__v1"], left["__c1"]):
            a = values(v1)
            for gids, mat, gboth in groups:
                keep = gids != id1
                if both1:
                    keep &= ~gboth | (id1 < gids)
                pid, pm = gids[keep], mat[keep]
                kq = len(pid)
                if kq == 0:
                    continue
                # cap the stack so the DP + scratch buffers stay
                # cache-resident — the diagonal sweep re-reads them
                # (n+m) times, and DRAM-bound stacks are ~7x slower.
                # Sweep-measured optimum is ~22k elements per (k, n)
                # buffer (~176 KB) regardless of series length
                k_max = max(32, 22528 // max(len(a), pm.shape[1], 1))
                A_full = np.broadcast_to(a, (kq, *a.shape))
                dist = np.empty(kq)
                for c0 in range(0, kq, k_max):
                    dist[c0:c0 + k_max] = fn(A_full[c0:c0 + k_max], pm[c0:c0 + k_max])
                o1.append(np.full(kq, id1))
                o2.append(pid)
                od.append(dist)
        if not o1:
            return empty
        return pd.DataFrame({"id_1": np.concatenate(o1), "id_2": np.concatenate(o2), method: np.concatenate(od)})

    return cell


def _grid_pairs(
    df1: DataFrame,
    df2: DataFrame | None,
    id_col: str,
    time_col: str,
    values: str | list[str],
    method: str,
    fn,
) -> DataFrame:
    """All kept pairs of series of df1 × df2 (df1 × df1 when df2 is None),
    scored by ``fn(A, B) -> (k,)`` over stacked (k, len[, channels])
    pairs. The module docstring describes the plan."""
    channels = None if isinstance(values, str) else len(values)

    def grouped(df):
        # multivariate values travel flattened: a cogroup cell with one
        # side empty segfaults the Python worker's Arrow read of
        # array<array<double>> (Spark 4.1, pyarrow 16)
        v = ordered_values(values, time_col)
        return df.groupBy(F.col(id_col).cast("string").alias("id")).agg(
            (v if channels is None else F.flatten(v)).alias("__v")
        )

    if df2 is None:
        g1 = g2 = grouped(df1).withColumn("__c", F.lit(True))
    else:
        # __c: the id is present in both inputs. Both grouped sides are
        # already hash-partitioned on id, so the window adds no shuffle
        sides = grouped(df1).withColumn("__side", F.lit(1)).unionByName(
            grouped(df2).withColumn("__side", F.lit(2))
        ).withColumn("__c", F.count("*").over(Window.partitionBy("id")) > 1)
        g1, g2 = (sides.where(F.col("__side") == s).drop("__side") for s in (1, 2))
    # rows × cols ≈ n_parts cells, each its own partition: cell (i, j)
    # pairs left block i with right block j
    n_parts = int(df1.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    rows = math.isqrt(n_parts)
    cols = n_parts // rows
    labels = F.array(*[F.lit(v) for v in _partition_labels(rows * cols)])

    def spread(g, side):
        # per-side column names: when both sides share attributes, column
        # pruning drops one side's inputs from the cogroup
        own = F.pmod(F.xxhash64(f"id_{side}"), F.lit(rows if side == 1 else cols)).cast("int")
        cells = [own * cols + b for b in range(cols)] if side == 1 else [own + b * cols for b in range(rows)]
        return (
            g.toDF(f"id_{side}", f"__v{side}", f"__c{side}")
            .withColumn("__cell", F.explode(F.array(*[labels[c] for c in cells])))
            .repartition(rows * cols, "__cell")
            .groupBy("__cell")
        )

    out = spread(g1, 1).cogroup(spread(g2, 2)).applyInPandas(
        _cell_fn(method, fn, channels), schema=f"id_1 string, id_2 string, {method} double"
    )
    id_dtype = dict(df1.dtypes)[id_col]
    if id_dtype != "string":
        out = out.withColumn("id_1", F.col("id_1").cast(id_dtype)).withColumn(
            "id_2", F.col("id_2").cast(id_dtype)
        )
    return out


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
    """All-pairs distance -> [id_1, id_2, <method>] (distance.py:45-169)."""
    require_columns(df1, id_col, time_col, target_col)
    if df2 is not None:
        require_columns(df2, id_col, time_col, target_col)
    fn = _batch_kernel_fn(method, variant, kwargs)
    return _grid_pairs(df1, df2, id_col, time_col, target_col, method, fn)


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
    kern = (lambda a, b: K.dtw_multi(a, b, metric)) if method == "dtw_multi" else (
        lambda a, b: K.msm_multi(a, b, c))
    return _grid_pairs(df1, df2, id_col, time_col, cols, method,
                       lambda A, B: np.array([kern(a, b) for a, b in zip(A, B)]))
