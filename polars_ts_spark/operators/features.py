"""Feature engineering operators (SURVEY §2.11) — pure Spark column
expressions over the canonical per-series window. No UDFs, no shuffles
beyond the single partition-by-id Exchange that every window here shares.

Reference parity:
- lag_features            -> polars_ts/features/lags.py:8-42
- covariate_lag_features  -> polars_ts/features/lags.py:45-79
- rolling_features        -> polars_ts/features/rolling.py:12-72
- calendar_features       -> polars_ts/features/calendar.py:9-57
- fourier_features        -> polars_ts/features/fourier.py:10-58
- interaction_features    -> polars_ts/features/advanced.py:116-144
- time_embeddings         -> polars_ts/features/advanced.py:147-191
- target_encode           -> polars_ts/features/advanced.py:11-54
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.panel import ID, TARGET, TIME, require_columns, series_window

# ---------------------------------------------------------------------------
# lags


def lag_features(
    df: DataFrame,
    lags: Sequence[int],
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """``y_lag_k`` columns via F.lag over the canonical window
    (polars: y.shift(k).over(id), features/lags.py:41)."""
    require_columns(df, id_col, time_col, target_col)
    w = series_window(id_col, time_col)
    cols = [F.lag(target_col, k).over(w).alias(f"{target_col}_lag_{k}") for k in lags]
    return df.select("*", *cols)


def covariate_lag_features(
    df: DataFrame,
    columns: Sequence[str],
    lags: Sequence[int],
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """``{col}_lag_{k}`` for covariate columns (features/lags.py:45-79)."""
    require_columns(df, id_col, time_col, *columns)
    w = series_window(id_col, time_col)
    cols = [
        F.lag(c, k).over(w).alias(f"{c}_lag_{k}") for c in columns for k in lags
    ]
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# rolling

_ROLLING_AGGS = {
    "mean": F.avg,
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "std": F.stddev_samp,  # polars rolling_std default ddof=1
    "var": F.var_samp,
    "median": lambda c: F.median(c),
}


def rolling_features(
    df: DataFrame,
    windows: Sequence[int],
    aggs: Sequence[str] = ("mean",),
    center: bool = False,
    min_samples: int | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """``y_rolling_{agg}_{w}`` — trailing ``rowsBetween(-(w-1), 0)`` or
    centered ``rowsBetween(-(w//2), w//2)`` frames
    (features/rolling.py:12-72). ``min_samples`` nulls out frames with
    fewer observations, matching polars ``min_samples``.
    """
    require_columns(df, id_col, time_col, target_col)
    base = series_window(id_col, time_col)
    out_cols = []
    for w in windows:
        frame = base.rowsBetween(-(w // 2), w - 1 - w // 2) if center else base.rowsBetween(-(w - 1), 0)
        mp = w if min_samples is None else min_samples
        cnt = F.count(target_col).over(frame)
        for agg in aggs:
            if agg not in _ROLLING_AGGS:
                raise ValueError(f"unsupported rolling agg {agg!r}")
            expr = _ROLLING_AGGS[agg](target_col).over(frame)
            out_cols.append(
                F.when(cnt >= F.lit(mp), expr).alias(f"{target_col}_rolling_{agg}_{w}")
            )
    return df.select("*", *out_cols)


# ---------------------------------------------------------------------------
# calendar

# polars weekday(): 1=Monday..7=Sunday; Spark dayofweek: 1=Sunday..7=Saturday.
# Shift: ((dayofweek(ds) + 5) % 7) + 1  (SURVEY §4.2).
_CALENDAR_EXTRACTORS = {
    "day_of_week": lambda t: ((F.dayofweek(t) + F.lit(5)) % 7 + F.lit(1)).cast("int"),
    "day_of_month": lambda t: F.dayofmonth(t).cast("int"),
    "day_of_year": lambda t: F.dayofyear(t).cast("int"),
    "week_of_year": lambda t: F.weekofyear(t).cast("int"),
    "month": lambda t: F.month(t).cast("int"),
    "quarter": lambda t: F.quarter(t).cast("int"),
    "year": lambda t: F.year(t).cast("int"),
    "hour": lambda t: F.hour(t).cast("int"),
    "minute": lambda t: F.minute(t).cast("int"),
    "is_weekend": lambda t: (F.dayofweek(t).isin(1, 7)).cast("tinyint"),  # Int8 flag, calendar.py:19
}


def calendar_features(
    df: DataFrame,
    features: Sequence[str] | None = None,
    time_col: str = TIME,
) -> DataFrame:
    """Datetime-part features (features/calendar.py:9-57). Defaults to all
    ten extractors; Polars Monday-first weekday convention preserved."""
    require_columns(df, time_col)
    feats = list(features) if features is not None else list(_CALENDAR_EXTRACTORS)
    unknown = [f for f in feats if f not in _CALENDAR_EXTRACTORS]
    if unknown:
        raise ValueError(f"unknown calendar features {unknown}")
    return df.select("*", *[_CALENDAR_EXTRACTORS[f](F.col(time_col)).alias(f) for f in feats])


# ---------------------------------------------------------------------------
# fourier


def fourier_features(
    df: DataFrame,
    period: float,
    n_harmonics: int = 3,
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """``fourier_{sin,cos}_{period}_{k}`` from the within-series row index
    t=0,1,2,... (features/fourier.py:10-58): sin/cos(2π·k·t/period)."""
    require_columns(df, id_col, time_col)
    w = series_window(id_col, time_col)
    t = (F.row_number().over(w) - F.lit(1)).cast("double")
    p = int(period) if float(period).is_integer() else period
    cols = []
    for k in range(1, n_harmonics + 1):
        angle = F.lit(2.0 * math.pi * k) * t / F.lit(float(period))
        cols.append(F.sin(angle).alias(f"fourier_sin_{p}_{k}"))
        cols.append(F.cos(angle).alias(f"fourier_cos_{p}_{k}"))
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# interactions / cyclic embeddings


def interaction_features(
    df: DataFrame,
    pairs: Sequence[tuple[str, str]],
    method: str = "multiply",
) -> DataFrame:
    """``a_x_b`` (multiply) / ``a_plus_b`` (add) column interactions
    (features/advanced.py:116-144)."""
    for a, b in pairs:
        require_columns(df, a, b)
    if method == "multiply":
        cols = [(F.col(a) * F.col(b)).alias(f"{a}_x_{b}") for a, b in pairs]
    elif method == "add":
        cols = [(F.col(a) + F.col(b)).alias(f"{a}_plus_{b}") for a, b in pairs]
    else:
        raise ValueError(f"unknown interaction method {method!r}")
    return df.select("*", *cols)


_EMBED_COMPONENTS = {
    # component -> (extractor, period)
    "hour": (lambda t: F.hour(t).cast("double"), 24.0),
    "day_of_week": (lambda t: ((F.dayofweek(t) + F.lit(5)) % 7).cast("double"), 7.0),
    "day_of_month": (lambda t: (F.dayofmonth(t) - F.lit(1)).cast("double"), 31.0),
    "month": (lambda t: (F.month(t) - F.lit(1)).cast("double"), 12.0),
    "minute": (lambda t: F.minute(t).cast("double"), 60.0),
}


def time_embeddings(
    df: DataFrame,
    components: Sequence[str] = ("hour", "day_of_week", "month"),
    time_col: str = TIME,
) -> DataFrame:
    """Cyclic sin/cos encodings ``{comp}_sin`` / ``{comp}_cos``
    (features/advanced.py:147-191)."""
    require_columns(df, time_col)
    cols = []
    for comp in components:
        if comp not in _EMBED_COMPONENTS:
            raise ValueError(f"unknown time component {comp!r}")
        extract, period = _EMBED_COMPONENTS[comp]
        angle = F.lit(2.0 * math.pi) * extract(F.col(time_col)) / F.lit(period)
        cols.append(F.sin(angle).alias(f"{comp}_sin"))
        cols.append(F.cos(angle).alias(f"{comp}_cos"))
    return df.select("*", *cols)


# ---------------------------------------------------------------------------
# target encoding


def target_encode(
    df: DataFrame,
    cat_col: str,
    smoothing: float = 10.0,
    target_col: str = TARGET,
) -> DataFrame:
    """Smoothed-mean target encoding ``{cat}_encoded`` =
    (n·cat_mean + s·global_mean) / (n + s)  (features/advanced.py:44-52).

    Scale: category stats are tiny → broadcast join, no shuffle of the fact
    side.
    """
    require_columns(df, cat_col, target_col)
    gmean = df.agg(F.avg(target_col)).collect()[0][0]
    stats = df.groupBy(cat_col).agg(
        F.count(target_col).alias("__n"), F.avg(target_col).alias("__mean")
    )
    enc = stats.select(
        cat_col,
        (
            (F.col("__n") * F.col("__mean") + F.lit(smoothing) * F.lit(gmean))
            / (F.col("__n") + F.lit(smoothing))
        ).alias(f"{cat_col}_encoded"),
    )
    return df.join(F.broadcast(enc), on=cat_col, how="left")


# ---------------------------------------------------------------------------
# holiday features (features/advanced.py:57-113) — the `holidays`
# package is not in the container; fixed-date holiday tables are built
# on the driver (deterministic) and broadcast-joined.

def _easter(year: int):
    """Gregorian Easter Sunday (Anonymous/Meeus computus — public
    algorithm; replaces the `holidays` package the reference uses at
    features/advanced.py:57-113, absent from this container)."""
    import datetime as _dt

    a = year % 19
    b, c = divmod(year, 100)
    d, e = divmod(b, 4)
    g = (8 * b + 13) // 25
    h = (19 * a + b - d - g + 15) % 30
    i, k = divmod(c, 4)
    l = (32 + 2 * e + 2 * i - h - k) % 7  # noqa: E741
    m = (a + 11 * h + 19 * l) // 433
    month = (h + l - 7 * m + 90) // 25
    day = (h + l - 7 * m + 33 * month + 19) % 32
    return _dt.date(year, month, day)


def _nth_weekday(year: int, month: int, weekday: int, n: int):
    """n-th `weekday` (Mon=0) of `month`; n=-1 means the last one."""
    import calendar as _cal
    import datetime as _dt

    if n > 0:
        first = _dt.date(year, month, 1)
        off = (weekday - first.weekday()) % 7
        return first + _dt.timedelta(days=off + 7 * (n - 1))
    last = _dt.date(year, month, _cal.monthrange(year, month)[1])
    return last - _dt.timedelta(days=(last.weekday() - weekday) % 7)


# Rule grammar: ("fixed", m, d) | ("nth", m, weekday Mon=0, n or -1)
# | ("easter", day_offset). Major public holidays per country — a
# vendored generated table, not the full `holidays` pkg, but covering
# the moving holidays (nth-weekday, Easter cycle) that fixed-date
# tables get wrong.
_HOLIDAY_RULES = {
    "US": (
        ("fixed", 1, 1), ("nth", 1, 0, 3), ("nth", 2, 0, 3),
        ("nth", 5, 0, -1), ("fixed", 6, 19), ("fixed", 7, 4),
        ("nth", 9, 0, 1), ("nth", 10, 0, 2), ("fixed", 11, 11),
        ("nth", 11, 3, 4), ("fixed", 12, 25),
    ),
    "DE": (
        ("fixed", 1, 1), ("easter", -2), ("easter", 1), ("fixed", 5, 1),
        ("easter", 39), ("easter", 50), ("fixed", 10, 3),
        ("fixed", 12, 25), ("fixed", 12, 26),
    ),
    "GB": (
        ("fixed", 1, 1), ("easter", -2), ("easter", 1),
        ("nth", 5, 0, 1), ("nth", 5, 0, -1), ("nth", 8, 0, -1),
        ("fixed", 12, 25), ("fixed", 12, 26),
    ),
    "FR": (
        ("fixed", 1, 1), ("easter", 1), ("fixed", 5, 1), ("fixed", 5, 8),
        ("easter", 39), ("easter", 50),
        ("fixed", 7, 14), ("fixed", 8, 15), ("fixed", 11, 1),
        ("fixed", 11, 11), ("fixed", 12, 25),
    ),
}


def holiday_calendar(country: str, years) -> list:
    """Materialize the rule table for a span of years -> sorted dates."""
    import datetime as _dt

    if country not in _HOLIDAY_RULES:
        raise ValueError(
            f"unknown country {country!r}; available: {sorted(_HOLIDAY_RULES)}"
        )
    out = set()
    for y in years:
        for rule in _HOLIDAY_RULES[country]:
            if rule[0] == "fixed":
                out.add(_dt.date(y, rule[1], rule[2]))
            elif rule[0] == "nth":
                out.add(_nth_weekday(y, rule[1], rule[2], rule[3]))
            else:
                out.add(_easter(y) + _dt.timedelta(days=rule[1]))
    return sorted(out)


def holiday_features(
    df: DataFrame,
    country: str = "US",
    distance: bool = True,
    time_col: str = TIME,
) -> DataFrame:
    """``is_holiday`` (+ ``days_to_holiday`` / ``days_since_holiday``):
    country rule-based holiday calendar (fixed dates, nth-weekday
    rules, Easter-cycle offsets) built on the driver for the panel's
    year span, broadcast-joined on the date — no shuffle of the fact
    table."""
    require_columns(df, time_col)
    yr = df.select(
        F.min(F.year(time_col)).alias("lo"), F.max(F.year(time_col)).alias("hi")
    ).collect()[0]
    days = holiday_calendar(country, range(int(yr["lo"]) - 1, int(yr["hi"]) + 2))
    spark = df.sparkSession
    hol = spark.createDataFrame([(d,) for d in days], ["__hday"])
    out = df.withColumn("__date", F.to_date(time_col))
    flagged = out.join(
        F.broadcast(hol.withColumn("__is_h", F.lit(1))),
        out["__date"] == hol["__hday"],
        "left",
    ).withColumn("is_holiday", F.col("__is_h").isNotNull()).drop("__hday", "__is_h")
    if not distance:
        return flagged.drop("__date")
    # distances via a broadcast sorted-array lookup (holiday list tiny)
    days_sorted = sorted(days)
    arr = F.array(*[F.lit(d) for d in days_sorted])
    nxt = F.array_min(F.filter(arr, lambda d: d >= F.col("__date")))
    prv = F.array_max(F.filter(arr, lambda d: d <= F.col("__date")))
    return (
        flagged.withColumn("days_to_holiday", F.datediff(nxt, F.col("__date")))
        .withColumn("days_since_holiday", F.datediff(F.col("__date"), prv))
        .drop("__date")
    )
