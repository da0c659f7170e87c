"""Per-layer probes timed from outside through each layer's public calls:
the parquet sources and the native distance kernels."""

from __future__ import annotations

import statistics
import time
from unittest import mock

import numpy as np

# the pairwise queries run on monthly supplier series: 84 months of the
# 1992-1998 ship dates, one series per supplier
SERIES_LEN = 84
PAIRS = 4000


def time_sources(spark, data_dir: str, reps: int = 3) -> dict[str, float]:
    """Median seconds of each public source function forced with noop."""
    from polars_ts_spark.sources.datasets import (
        load_table, supplier_daily_panel, user_event_panel)

    calls = {
        "sources.supplier_panel_s": lambda: supplier_daily_panel(spark, data_dir),
        "sources.event_panel_s": lambda: user_event_panel(spark, data_dir),
        "sources.documents_s": lambda: load_table(spark, data_dir, "documents"),
    }
    out = {}
    for name, call in calls.items():
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            call().write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        out[name] = statistics.median(ts)
    return out


def time_native(seed: int, reps: int = 5) -> tuple[dict[str, float], list[str]]:
    """Cells per second of the C DTW and MSM kernels on seeded random
    walks, and the kernels whose output differs from the numpy path."""
    from polars_ts_spark.functions import dist_kernels, native

    rng = np.random.default_rng(seed)
    A = rng.normal(size=(PAIRS, SERIES_LEN)).cumsum(axis=1)
    B = rng.normal(size=(PAIRS, SERIES_LEN)).cumsum(axis=1)
    cells = PAIRS * SERIES_LEN * SERIES_LEN
    kernels = {
        "dtw": (lambda: native.dtw_pairs(A, B), dist_kernels.dtw_batch, "dtw_pairs"),
        "msm": (lambda: native.msm_pairs(A, B, 1.0),
                lambda a, b: dist_kernels.msm_batch(a, b, 1.0), "msm_pairs"),
    }
    rates, wrong = {}, []
    for name, (call, batch, entry) in kernels.items():
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            got = call()
            ts.append(time.perf_counter() - t0)
        rates[f"native.{name}_cells_per_s"] = cells / statistics.median(ts)
        # the numpy engine is the reference: disable the native entry
        # point so the batch function takes its fallback path
        with mock.patch.object(native, entry, lambda *a: None):
            ref = batch(A[:64], B[:64])
        if got is None or not np.array_equal(got[:64], ref):
            wrong.append(name)
    return rates, wrong
