"""Long-form time-series queries over the events fixture table.

The reference's per-series operators work on embedded arrays (wide
form, operators/timeseries.py). This module exposes the SAME semantic
family — trend smoothing, gradient, z-scoring, linear extrapolation,
cleaning, resampling — as LONG-form window-function plans over daily
series derived from the driver's events table, each paired with a
DuckDB oracle for the correctness gate.

Determinism contract (same as plans/relational.py): event values carry
2 decimals → daily series are exact integer cents; window sums /
counts are exact bigints; every double is produced by one closed-form
IEEE expression over exact integers, identical on both engines. No
round() on accumulated doubles anywhere.

Scale notes:
* The daily rollup groups by (user_id, day) — one shuffle; every
  window op downstream partitions by user_id only, which Spark
  satisfies with a single exchange reused across all window specs.
* At 100 TB the daily rollup would be written partitioned by day
  bucket (``df.write.partitionBy``) so downstream scans prune; the
  per-user windows then shuffle by user_id once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_prediction_spark.sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# Shared CTE (SQL) / builder (Spark): exact-cents daily series per user.
DAILY_CTE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
)
"""


def daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-user value series in exact integer cents."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"))


def ts_daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Base materialization: the long-form series itself."""
    return daily_series(spark, sf_dir).select(
        "user_id", "day", (F.col("cents") / 100.0).alias("value")
    )


TS_DAILY_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day, CAST(cents AS DOUBLE) / 100.0 AS value
FROM daily
"""
)


def ts_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centered 7-day moving-average trend, null at series edges —
    the long-form analogue of W1's moving-average core (full centered
    window only, mirroring statsmodels' NaN edges before extrapolation).
    """
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
    full = F.count(F.lit(1)).over(w) == 7
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        F.when(full, F.sum("cents").over(w) / 700.0).alias("trend7"),
    )


TS_WEEKLY_TREND_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       CASE WHEN count(*) OVER w = 7
            THEN CAST(sum(cents) OVER w AS DOUBLE) / 700.0 END AS trend7
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
"""
)


def ts_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.gradient semantics on the long form (W8): central differences
    interior, one-sided at the series edges."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    nxt, prv = F.lead("cents").over(w), F.lag("cents").over(w)
    grad = (
        F.when(prv.isNull() & nxt.isNull(), F.lit(None).cast("double"))
        .when(prv.isNull(), (nxt - F.col("cents")) / 100.0)
        .when(nxt.isNull(), (F.col("cents") - prv) / 100.0)
        .otherwise((nxt - prv) / 200.0)
    )
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        grad.alias("gradient"),
    )


TS_GRADIENT_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       CASE
         WHEN lag(cents) OVER w IS NULL AND lead(cents) OVER w IS NULL THEN NULL
         WHEN lag(cents) OVER w IS NULL
           THEN CAST(lead(cents) OVER w - cents AS DOUBLE) / 100.0
         WHEN lead(cents) OVER w IS NULL
           THEN CAST(cents - lag(cents) OVER w AS DOUBLE) / 100.0
         ELSE CAST(lead(cents) OVER w - lag(cents) OVER w AS DOUBLE) / 200.0
       END AS gradient
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day)
"""
)


def ts_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series standardization (A1/A2/W4 analogue): z = (v - mean)/std
    with population std, computed from exact integer sums so both
    engines evaluate the identical closed form:
    ``var = (ss - s*s/n)/n`` over cents."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id")
    s = F.sum("cents").over(w).cast("double")
    ss = F.sum(F.col("cents") * F.col("cents")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    mean_c = s / n
    std_c = F.sqrt((ss - s * s / n) / n)
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        F.when(std_c != 0, (F.col("cents") - mean_c) / std_c).alias("zscore"),
    )


TS_ZSCORE_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       CASE WHEN sqrt((ss - s * s / n) / n) != 0
            THEN (cents - s / n) / sqrt((ss - s * s / n) / n) END AS zscore
FROM (
  SELECT user_id, day, cents,
         CAST(sum(cents)         OVER w AS DOUBLE) AS s,
         CAST(sum(cents * cents) OVER w AS DOUBLE) AS ss,
         CAST(count(*)           OVER w AS DOUBLE) AS n
  FROM daily
  WINDOW w AS (PARTITION BY user_id)
)
"""
)


def ts_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 analogue on long form: per-user linear extrapolation 14 days
    ahead. slope = exact median of the np.gradient values (A3: exact
    median, not approximate); anchor = last observed value; forecast
    day d = anchor + d * slope (closed form).

    The 14 future rows per user come from ``explode(sequence(1, 14))``
    — generated column-side, no join (the reference used a 1-row
    crossJoin for this, ``notebooks/utils.py:222-225``)."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    nxt, prv = F.lead("cents").over(w), F.lag("cents").over(w)
    grad = (
        F.when(prv.isNull() & nxt.isNull(), F.lit(None).cast("double"))
        .when(prv.isNull(), (nxt - F.col("cents")) / 100.0)
        .when(nxt.isNull(), (F.col("cents") - prv) / 100.0)
        .otherwise((nxt - prv) / 200.0)
    )
    rn_desc = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("day"))
    )
    per_user = (
        d.select(
            "user_id",
            "day",
            "cents",
            grad.alias("g"),
            rn_desc.alias("_rn"),
        )
        .groupBy("user_id")
        .agg(
            F.median("g").alias("slope"),
            F.max(F.when(F.col("_rn") == 1, F.col("cents"))).alias("_last_c"),
            F.max("day").alias("last_day"),
        )
    )
    return per_user.select(
        "user_id",
        "last_day",
        "slope",
        "_last_c",
        F.explode(F.sequence(F.lit(1), F.lit(14))).alias("horizon_day"),
    ).select(
        "user_id",
        "last_day",
        "horizon_day",
        (F.col("_last_c") / 100.0 + F.col("horizon_day") * F.col("slope")).alias(
            "forecast"
        ),
    )


TS_LINEAR_FORECAST_SQL = (
    DAILY_CTE
    + """
, grads AS (
  SELECT user_id, day, cents,
         CASE
           WHEN lag(cents) OVER w IS NULL AND lead(cents) OVER w IS NULL THEN NULL
           WHEN lag(cents) OVER w IS NULL
             THEN CAST(lead(cents) OVER w - cents AS DOUBLE) / 100.0
           WHEN lead(cents) OVER w IS NULL
             THEN CAST(cents - lag(cents) OVER w AS DOUBLE) / 100.0
           ELSE CAST(lead(cents) OVER w - lag(cents) OVER w AS DOUBLE) / 200.0
         END AS g,
         row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS _rn
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day)
), per_user AS (
  SELECT user_id,
         median(g)                                   AS slope,
         max(CASE WHEN _rn = 1 THEN cents END)       AS _last_c,
         max(day)                                    AS last_day
  FROM grads
  GROUP BY user_id
)
SELECT user_id, last_day, horizon_day,
       CAST(_last_c AS DOUBLE) / 100.0 + horizon_day * slope AS forecast
FROM per_user, generate_series(1, 14) AS t(horizon_day)
"""
)


def ts_activity_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11 analogue: per-user keep flag — 0 if the series is constant or
    has fewer than 5 day-to-day changes, else 1."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    changed = F.when(
        F.lag("cents").over(w).isNotNull()
        & (F.col("cents") != F.lag("cents").over(w)),
        1,
    ).otherwise(0)
    return (
        d.select("user_id", "cents", changed.alias("chg"))
        .groupBy("user_id")
        .agg(
            F.sum("chg").cast("bigint").alias("n_changes"),
            F.countDistinct("cents").alias("n_distinct"),
        )
        .select(
            "user_id",
            "n_changes",
            F.when((F.col("n_distinct") <= 1) | (F.col("n_changes") < 5), 0)
            .otherwise(1)
            .alias("keep_ts"),
        )
    )


TS_ACTIVITY_SQL = (
    DAILY_CTE
    + """
SELECT user_id,
       CAST(sum(chg) AS BIGINT) AS n_changes,
       CASE WHEN count(DISTINCT cents) <= 1 OR CAST(sum(chg) AS BIGINT) < 5
            THEN 0 ELSE 1 END AS keep_ts
FROM (
  SELECT user_id, cents,
         CASE WHEN lag(cents) OVER (PARTITION BY user_id ORDER BY day) IS NOT NULL
                AND cents != lag(cents) OVER (PARTITION BY user_id ORDER BY day)
              THEN 1 ELSE 0 END AS chg
  FROM daily
)
GROUP BY user_id
"""
)


def ts_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each user's series to a dense daily grid between its
    first and last day, forward-filling gaps — the missing-data
    operator every daily-balance pipeline needs (the reference's
    generator emits dense series; real ingestion does not).

    The dense grid is generated per-user with ``sequence(min, max)``
    + explode, then a left join back to observations; the fill is
    ``last(value, ignorenulls)`` over the ordered window."""
    d = daily_series(spark, sf_dir)
    grid = (
        d.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = grid.join(d, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "user_id",
        "day",
        (F.last("cents", ignorenulls=True).over(w) / 100.0).alias("value_filled"),
        F.col("cents").isNotNull().alias("observed"),
    )


TS_RESAMPLE_SQL = (
    DAILY_CTE
    + """
, grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id)
)
SELECT g.user_id, g.day,
       CAST(last_value(d.cents IGNORE NULLS) OVER
            (PARTITION BY g.user_id ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
         AS value_filled,
       d.cents IS NOT NULL AS observed
FROM grid g
LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
"""
)


def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the user's most recent
    purchase at-or-before it (operators/asof union-carry construction —
    one shuffle; DuckDB cross-checks with its native ASOF JOIN)."""
    from time_series_prediction_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    joined = asof_join(
        ev.select("event_id", "user_id", "ts", "event_type", "value"),
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=["purchase_value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.col("ts_asof").alias("last_purchase_ts"),
        F.col("purchase_value_asof").alias("last_purchase_value"),
    )


EVENTS_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       p.ts    AS last_purchase_ts,
       p.value AS last_purchase_value
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


TIMESERIES_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "events_asof_last_purchase": (events_asof_last_purchase, EVENTS_ASOF_SQL),
    "ts_daily_series": (ts_daily_series, TS_DAILY_SQL),
    "ts_weekly_trend": (ts_weekly_trend, TS_WEEKLY_TREND_SQL),
    "ts_gradient": (ts_gradient, TS_GRADIENT_SQL),
    "ts_zscore": (ts_zscore, TS_ZSCORE_SQL),
    "ts_linear_forecast": (ts_linear_forecast, TS_LINEAR_FORECAST_SQL),
    "ts_activity_flag": (ts_activity_flag, TS_ACTIVITY_SQL),
    "ts_resample_ffill": (ts_resample_ffill, TS_RESAMPLE_SQL),
}
