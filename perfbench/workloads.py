"""The benchmark's workloads: which registered queries each one runs.

``pass_s`` is the nominal warm pass size in seconds (bundled sf0.01
tables, local[4] on 4 cores); a run makes ``round(--seconds / pass_s)``
warm passes, at least one. ``why`` states what traced runs of the
workload show it spends its time on (see README.md for the figures).
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "panel_window": {
        "why": "short scan, shuffle and Window plans of 3-4 jobs each; about "
               "45% of their time is driver gaps; no Python workers or checkpoints",
        "queries": [
            "panel_base", "lag_features", "rolling_features", "resample_weekly",
            "outliers_iqr", "forecast_metrics", "seasonal_strength_features",
            "event_window_agg",
        ],
        "pass_s": 4.5,
    },
    "series_kernels": {
        "why": "executor time in applyInPandas stages and the C distance "
               "kernels dominates; few jobs per query",
        "queries": [
            "holt_winters_forecast", "kalman_filter", "pairwise_dtw", "pairwise_msm",
        ],
        "pass_s": 5.5,
    },
    "multi_job_dag": {
        "why": "11 and 49 jobs per query with driver gaps between them and eager "
               "localCheckpoints that write the block store",
        "queries": ["corpus_curation_v3", "quantile_regression"],
        "pass_s": 8.0,
    },
}
