"""Parquet sources over the driver's star schema (TESTDATA.md) and the
panel derivations both engines + the DuckDB oracle agree on (FIXTURES.md F9).

Reference analogue: ``polars_ts/datasets.py:10-81`` (load_dataset) — ours
reads the driver-provided parquet instead of downloading.

Scale notes: plain ``spark.read.parquet`` keeps partition pruning, filter
pushdown and column pruning in play. Panel derivation is a hash
aggregate on (unique_id, ds) — map-side partial combine reduces the raw
scan before its shuffle, so at 100 TB the exchange moves aggregated
partials, not input rows. Downstream per-series windows then re-shuffle
on unique_id alone; that second exchange moves only the aggregated
panel (orders of magnitude smaller than the input), which is the right
trade — repartitioning the raw input by unique_id first would ship the
full table to save a shuffle of the small one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects unless
    # nanosAsLong is set; the session may be externally built (driver harness),
    # so set it here as a runtime conf rather than only at session build time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def supplier_daily_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical F1 panel from lineitem: one series per supplier, daily
    revenue. unique_id=l_suppkey (string), ds=day, y=sum(extendedprice).

    Matches oracle SQL::

        SELECT CAST(l_suppkey AS VARCHAR) AS unique_id,
               date_trunc('day', l_shipdate) AS ds,
               SUM(l_extendedprice) AS y
        FROM lineitem GROUP BY 1, 2

    Multi-pass consumers (fit/predict estimators, stacking, conformal)
    wrap it in ``session.materialize``: the panel is the narrow linear
    proxy of the fact table (3 columns, one row per series-day), so
    reading it N times beats N lineitem scans + aggregations."""
    li = load_table(spark, sf_dir, "lineitem")
    panel = (
        li.groupBy(
            F.col("l_suppkey").cast("string").alias("unique_id"),
            F.date_trunc("day", F.col("l_shipdate")).alias("ds"),
        )
        .agg(F.sum("l_extendedprice").alias("y"))
    )
    return panel


def user_event_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-stream panel (F9): unique_id=user_id, ds=event ts, y=value.
    Irregular timestamps — exercises resample/impute paths."""
    ev = load_table(spark, sf_dir, "events")
    # events.ts is TIMESTAMP(NANOS) parquet, read as bigint nanos under
    # spark.sql.legacy.parquet.nanosAsLong — integer-divide to micros
    # (a double division would lose precision above 2^53)
    ts = F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))") if dict(ev.dtypes)["ts"] == "bigint" else F.col("ts")
    return ev.select(
        F.col("user_id").cast("string").alias("unique_id"),
        ts.alias("ds"),
        F.col("value").cast("double").alias("y"),
    )


def load_dataset(
    spark: SparkSession,
    name: str,
    url: str,
    sha256: str,
    cache_dir: str | None = None,
) -> DataFrame:
    """Checksum-verified dataset loader — the reference's
    ``load_dataset`` contract (``polars_ts/datasets.py:10-81``): fetch
    ``url`` into a per-user cache keyed by ``name``, verify the SHA-256
    of the payload, and read it (parquet or csv by extension). A cached
    file is re-verified before reuse, so a corrupted or tampered cache
    entry re-downloads instead of silently loading.

    ``file://`` URLs are copies (this container has no network);
    http(s) goes through urllib. The integrity check is the point —
    a dataset that does not hash to ``sha256`` raises, never loads.
    """
    import hashlib
    import os
    import shutil
    import urllib.parse
    import urllib.request

    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name) or ".." in name:
        # the name becomes a cache filename; anything path-like (seps,
        # '..', Windows drive-relative 'C:x' or ADS colons) would
        # write/delete OUTSIDE the 0o700 cache dir
        raise ValueError(f"dataset name must be a bare identifier, got {name!r}")
    cache_dir = cache_dir or os.path.join(
        os.path.expanduser("~"), ".cache", "polars_ts_spark")
    os.makedirs(cache_dir, mode=0o700, exist_ok=True)
    ext = os.path.splitext(urllib.parse.urlparse(url).path)[1] or ".parquet"
    dest = os.path.join(cache_dir, f"{name}{ext}")

    def _digest(path: str) -> str:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
        return h.hexdigest()

    if not (os.path.exists(dest) and _digest(dest) == sha256):
        # fetch to a private temp file and os.replace() only after the
        # digest verifies: an interrupted fetch can't leave a partial
        # file at dest, and concurrent callers never read a mid-write
        # cache entry (replace is atomic within the directory). mkstemp
        # gives a name unique PER CALL (a pid-suffixed name collides
        # when two threads of one process fetch the same missing
        # dataset: one thread's cleanup could delete the tmp the other
        # is still verifying)
        import tempfile

        fd, tmp = tempfile.mkstemp(
            prefix=f"{name}.tmp.", dir=os.path.dirname(dest))
        try:
            parsed = urllib.parse.urlparse(url)
            if parsed.scheme in ("", "file"):
                os.close(fd)
                shutil.copyfile(parsed.path or url, tmp)
            else:
                # adopt fd into the with FIRST: if urlopen raises, the
                # raw descriptor would otherwise leak (ints aren't
                # GC-closed), accumulating fds across retries
                with os.fdopen(fd, "wb") as out:
                    with urllib.request.urlopen(url, timeout=60) as r:
                        shutil.copyfileobj(r, out)
            got = _digest(tmp)
            if got != sha256:
                raise ValueError(
                    f"dataset {name!r}: sha256 mismatch (expected {sha256}, got {got})")
            # mkstemp creates 0600 and os.replace preserves it — give
            # the verified cache entry the umask-standard mode instead,
            # so shared caches stay group/world-readable like any
            # open()-created file would be
            umask = os.umask(0)
            os.umask(umask)
            os.chmod(tmp, 0o666 & ~umask)
            os.replace(tmp, dest)
        finally:
            try:
                os.remove(tmp)
            except FileNotFoundError:
                pass  # the success path already os.replace()d it away
    if ext == ".csv":
        return spark.read.option("header", "true").option("inferSchema", "true").csv(dest)
    return spark.read.parquet(dest)
