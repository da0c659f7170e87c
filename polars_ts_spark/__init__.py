"""polars_ts_spark — a PySpark-native rebuild of the query/data-processing
capabilities of drumtorben/polars-ts (time-series panel analytics), plus
large-scale training-data-pipeline operators (dedup, similarity search,
text analysis).

Spark-first: DataFrame/Window/SQL plans optimized by Catalyst; pandas-UDF
(`applyInPandas`) kernels only where semantics genuinely require
whole-series imperative code (DP distances, ETS recursions, PELT).
"""

__version__ = "0.1.0"

from polars_ts_spark._worker import gate_zip_invalidation
from polars_ts_spark.panel import ID, TARGET, TIME, PanelCols, canonicalize, series_window
from polars_ts_spark.session import get_spark

# a no-op on the driver; in a Python worker it keeps every later task
# from re-reading the unchanged pyspark.zip (see _worker.py)
gate_zip_invalidation()

__all__ = [
    "ID", "TIME", "TARGET", "PanelCols", "canonicalize", "series_window", "get_spark",
]
