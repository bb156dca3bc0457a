"""Time-series analytics, batch 2: rolling statistics, OHLC
downsampling, EWMA, anomaly flags, autocorrelation, retention.

Long-form window plans over the exact-cents daily series (see
plans/timeseries_queries.DAILY_CTE), same cross-engine determinism
contract: all statistics from exact integer window sums, one final
IEEE expression.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_prediction_spark.plans.timeseries_queries import (
    DAILY_CTE,
    daily_series,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def ts_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-row rolling min/max/mean/std per user — rolling std
    from exact integer sums: var = (ss - s*s/n)/n."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(-6, 0)
    s = F.sum("cents").over(w).cast("double")
    ss = F.sum(F.col("cents") * F.col("cents")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        (F.min("cents").over(w) / 100.0).alias("roll_min"),
        (F.max("cents").over(w) / 100.0).alias("roll_max"),
        (s / (100.0 * n)).alias("roll_mean"),
        (F.sqrt((ss - s * s / n) / n) / 100.0).alias("roll_std"),
    )


TS_ROLLING_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       CAST(min(cents) OVER w AS DOUBLE) / 100.0 AS roll_min,
       CAST(max(cents) OVER w AS DOUBLE) / 100.0 AS roll_max,
       CAST(sum(cents) OVER w AS DOUBLE) / (100.0 * count(*) OVER w) AS roll_mean,
       sqrt((CAST(sum(cents * cents) OVER w AS DOUBLE)
             - CAST(sum(cents) OVER w AS DOUBLE) * CAST(sum(cents) OVER w AS DOUBLE)
               / count(*) OVER w)
            / count(*) OVER w) / 100.0 AS roll_std
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""
)


def ts_weekly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample daily series to weekly OHLC bars: open/close via
    min_by/max_by on the day (DuckDB arg_min/arg_max), high/low/volume
    exact."""
    d = daily_series(spark, sf_dir)
    wk = F.date_trunc("week", F.col("day")).alias("week")
    return (
        d.groupBy("user_id", wk)
        .agg(
            (F.min_by("cents", "day") / 100.0).alias("open"),
            (F.max("cents") / 100.0).alias("high"),
            (F.min("cents") / 100.0).alias("low"),
            (F.max_by("cents", "day") / 100.0).alias("close"),
            F.count(F.lit(1)).alias("n_days"),
            (F.sum("cents") / 100.0).alias("total"),
        )
    )


TS_OHLC_SQL = (
    DAILY_CTE
    + """
SELECT user_id, date_trunc('week', day) AS week,
       CAST(arg_min(cents, day) AS DOUBLE) / 100.0 AS open,
       CAST(max(cents) AS DOUBLE) / 100.0          AS high,
       CAST(min(cents) AS DOUBLE) / 100.0          AS low,
       CAST(arg_max(cents, day) AS DOUBLE) / 100.0 AS close,
       count(*)                                    AS n_days,
       CAST(sum(cents) AS DOUBLE) / 100.0          AS total
FROM daily
GROUP BY user_id, date_trunc('week', day)
"""
)


def ts_ewma_7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed EWMA (α=0.5, 7-day horizon): weights 0.5^k over the
    last 7 observations, normalized. Exact closed form per row:
    both engines evaluate sum(v_k·w_k)/sum(w_k) over identical
    integer-cent inputs with power-of-two weights (exact in binary),
    ordered identically — deterministic.

    Full-history EWMA is a recurrence (not window-expressible); the
    7-term truncation keeps the operator incremental at any scale and
    its tail weight (0.5^7) is negligible."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    terms = []
    weights = []
    for k in range(7):
        v = F.lag("cents", k).over(w)
        wt = 0.5**k
        terms.append(F.when(v.isNotNull(), v * F.lit(wt)).otherwise(F.lit(0.0)))
        weights.append(
            F.when(v.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        )
    num = terms[0]
    for t in terms[1:]:
        num = num + t
    den = weights[0]
    for t in weights[1:]:
        den = den + t
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        (num / (100.0 * den)).alias("ewma7"),
    )


def _ewma_sql() -> str:
    nums = []
    dens = []
    for k in range(7):
        v = f"lag(cents, {k}) OVER w"
        nums.append(f"CASE WHEN {v} IS NOT NULL THEN {v} * {0.5 ** k!r} ELSE 0.0 END")
        dens.append(f"CASE WHEN {v} IS NOT NULL THEN {0.5 ** k!r} ELSE 0.0 END")
    return (
        DAILY_CTE
        + f"""
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       ({' + '.join(nums)}) / (100.0 * ({' + '.join(dens)})) AS ewma7
FROM daily
WINDOW w AS (PARTITION BY user_id ORDER BY day)
"""
    )


TS_EWMA_SQL = _ewma_sql()


def ts_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly detection: flag days whose value deviates more than 2
    population-σ from the user's mean (exact integer sums)."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id")
    s = F.sum("cents").over(w).cast("double")
    ss = F.sum(F.col("cents") * F.col("cents")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    mean_c = s / n
    std_c = F.sqrt((ss - s * s / n) / n)
    dev = F.abs(F.col("cents") - mean_c)
    return d.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        F.when(std_c > 0, (dev > 2 * std_c).cast("int"))
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    ).where(F.col("is_anomaly") == 1)


TS_ANOMALY_SQL = (
    DAILY_CTE
    + """
SELECT user_id, day, value, is_anomaly
FROM (
  SELECT user_id, day,
         CAST(cents AS DOUBLE) / 100.0 AS value,
         CASE WHEN sqrt((ss - s * s / n) / n) > 0
              THEN CAST(abs(cents - s / n) > 2 * sqrt((ss - s * s / n) / n) AS INTEGER)
              ELSE 0 END AS is_anomaly
  FROM (
    SELECT user_id, day, cents,
           CAST(sum(cents)         OVER w AS DOUBLE) AS s,
           CAST(sum(cents * cents) OVER w AS DOUBLE) AS ss,
           CAST(count(*)           OVER w AS DOUBLE) AS n
    FROM daily
    WINDOW w AS (PARTITION BY user_id)
  )
)
WHERE is_anomaly = 1
"""
)


def ts_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation from exact integer sums over the
    aligned (v, lag(v)) pairs: r = (n·Σxy − Σx·Σy) /
    (sqrt(n·Σx² − (Σx)²)·sqrt(n·Σy² − (Σy)²)) — one deterministic
    closed form, no float accumulation."""
    d = daily_series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("day")
    pairs = d.select(
        "user_id",
        F.col("cents").alias("x"),
        F.lag("cents").over(w).alias("y"),
    ).where(F.col("y").isNotNull())
    agg = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = agg.n * agg.sxy - agg.sx * agg.sy
    den = F.sqrt((agg.n * agg.sxx - agg.sx * agg.sx).cast("double")) * F.sqrt(
        (agg.n * agg.syy - agg.sy * agg.sy).cast("double")
    )
    return agg.select(
        "user_id",
        F.col("n").alias("n_pairs"),
        F.when(den > 0, num.cast("double") / den).alias("lag1_autocorr"),
    )


TS_AUTOCORR_SQL = (
    DAILY_CTE
    + """
, pairs AS (
  SELECT user_id, cents AS x,
         lag(cents) OVER (PARTITION BY user_id ORDER BY day) AS y
  FROM daily
), agg AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,   CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pairs WHERE y IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n AS n_pairs,
       CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                 * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) > 0
            THEN CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
       END AS lag1_autocorr
FROM agg
"""
)


def events_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention: of the users active on day D, how many
    were also active on D+1 (distinct-user self-join on adjacent
    days)."""
    from time_series_prediction_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    active = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    nxt = active.select(
        F.date_sub("day", 1).alias("day"), F.col("user_id").alias("u2")
    )
    return (
        active.join(
            nxt,
            (active.day == nxt.day) & (active.user_id == nxt.u2),
            "left",
        )
        .groupBy(active.day)
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count("u2").alias("retained_next_day"),
        )
        .select(
            "day",
            "active_users",
            "retained_next_day",
            (
                F.col("retained_next_day").cast("double")
                / F.col("active_users")
            ).alias("retention_rate"),
        )
    )


EVENTS_RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
)
SELECT a.day,
       count(*) AS active_users,
       count(b.user_id) AS retained_next_day,
       CAST(count(b.user_id) AS DOUBLE) / count(*) AS retention_rate
FROM active a
LEFT JOIN active b
  ON b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY
GROUP BY a.day
"""


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-column extraction (semi-structured path): parse the props
    JSON string, bucket by the extracted k value."""
    from time_series_prediction_spark.sources.io import read_table

    ev = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type", (F.floor(F.col("k") / 10)).alias("k_decade"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("k_total"))
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10) AS BIGINT)
         AS k_decade,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS k_total
FROM events
WHERE json_extract_string(props, '$.k') IS NOT NULL
GROUP BY event_type,
         CAST(floor(CAST(json_extract_string(props, '$.k') AS BIGINT) / 10) AS BIGINT)
"""


_SYN_N_SERIES = 1000
_SYN_SEED = 42
_SYN_N_DAYS = 487  # 2018-12-01 .. 2020-03-31 inclusive


def cashflow_synthetic_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's actual workload, end to end on generated data:
    1000 seeded 487-day series → clean → statsmodels-parity trend →
    serving extrapolation → trajectory, reduced to per-signal-type
    summary stats. Oracle-backed END TO END since round 11: the
    md5-derived generator replays draw-for-draw in DuckDB
    (``sources/generate.duckdb_series_cte``) and the pipeline replays
    as list-lambda SQL (``SYNTHETIC_PIPELINE_SQL``). The per-series
    trajectory / day-92 forecast are float32 values with 3 decimals —
    converted to exact integer MILLI-units per series so the
    per-group sums are shuffle-order-free, and the averages are ONE
    division of identical operands in both engines.
    ``sf_dir`` is unused: the workload is generation-bound by design."""
    from time_series_prediction_spark.plans.preprocess import (
        clean_series,
        pre_processing,
    )
    from time_series_prediction_spark.sources.generate import (
        generate_series_frame,
    )

    raw = generate_series_frame(spark, _SYN_N_SERIES, seed=_SYN_SEED)
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=True)
    per = pre.select(
        "signal_type",
        F.expr(
            "CAST(floor(CAST(trajectory_6months AS DOUBLE) * 1000.0D"
            " + 0.5D) AS BIGINT)"
        ).alias("_tm"),
        F.expr(
            "CAST(floor(CAST(trend_next_3months_1MW[91] AS DOUBLE)"
            " * 1000.0D + 0.5D) AS BIGINT)"
        ).alias("_fm"),
    )
    return per.groupBy("signal_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_series"),
        F.expr(
            "CAST(sum(_tm) AS DOUBLE)"
            " / (CAST(count(1) AS DOUBLE) * 1000.0D)"
        ).alias("avg_trajectory"),
        F.expr(
            "CAST(sum(_fm) AS DOUBLE)"
            " / (CAST(count(1) AS DOUBLE) * 1000.0D)"
        ).alias("avg_day92_forecast"),
    )


def _synthetic_pipeline_sql() -> str:
    """DuckDB oracle for ``cashflow_synthetic_pipeline``: the
    md5-replayed generator CTE feeding the EVEN-freq trend
    (statsmodels weights [0.5, 1×(freq−1), 0.5]/freq over freq+1
    points — the freq=30 path ``pre_processing`` defaults to, distinct
    from the odd plain-MA form in ``flagship._cashflow_wide_sql``),
    npoints=1 edge extrapolation, np.gradient, the shared 183-day
    gradient median (trajectory AND serving slope use the same
    window), the day-by-day forecast fold, and shortest-repr half-even
    rounding — each expression mirroring the Spark fragment's operand
    order."""
    from time_series_prediction_spark.plans.flagship import _bround3
    from time_series_prediction_spark.sources.generate import (
        duckdb_series_cte,
    )

    # pre_processing's and clean_series' defaults, which the pipeline
    # runs with: an even freq, and the 6-month trajectory window equal
    # to the 183-day serving slope window
    freq, y_days, tc = 30, 92, 20
    n = _SYN_N_DAYS
    trim = freq // 2
    front = trim  # 0-based head bound
    back = n - 1 - trim  # 0-based tail bound
    traj_days = int(30.5 * 6)
    valid = (
        f"(0.5e0 * CAST(b[j - {trim}] AS DOUBLE) "
        f"+ list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(b[j - {trim - 1}:j + {trim - 1}], "
        f"v -> CAST(v AS DOUBLE))), (a, v) -> a + v) "
        f"+ 0.5e0 * CAST(b[j + {trim}] AS DOUBLE)) / {freq}.0e0"
    )
    trend_case = (
        f"CASE WHEN j <= {front} THEN "
        f"vf * ({front}.0 * CAST(j - 1 AS DOUBLE) + 1.0)"
        f" / ({front * front} + 1.0) "
        f"WHEN j >= {back + 2} THEN "
        f"vb * (x0b * CAST(j - 1 AS DOUBLE) + 1.0)"
        f" / (x0b * x0b + 1.0) "
        f"ELSE raw[j] END"
    )
    fold = (
        f"list_reduce(list_prepend(anchor, "
        f"list_transform(range(1, {y_days + 1}), _d -> slope)), "
        f"(a, v) -> a + v)"
    )
    return (
        "WITH "
        + duckdb_series_cte(_SYN_N_SERIES, n, seed=_SYN_SEED)
        + f""",
kept AS (
  SELECT id, signal_type, b FROM gen
  WHERE len(list_filter(b, v -> v != b[1])) > 0
    AND len(list_filter(range(2, {n + 1}), j ->
          (CAST(b[j] AS DOUBLE) - CAST(b[j - 1] AS DOUBLE)) != 0.0)) >= {tc}
),
rawt AS (
  SELECT id, signal_type,
    list_transform(range(1, {n + 1}), j ->
      CASE WHEN j >= {trim + 1} AND j <= {n - trim} THEN {valid}
      ELSE NULL END) AS raw
  FROM kept
),
edges AS (
  SELECT id, signal_type, raw,
         raw[{front + 1}] AS vf,
         raw[{back}] AS vb,
         CAST({back} - 1 AS DOUBLE) AS x0b
  FROM rawt
),
trended AS (
  SELECT id, signal_type,
    list_transform(range(1, {n + 1}), j ->
      CAST({_bround3(trend_case)} AS FLOAT)) AS t
  FROM edges
),
grads AS (
  SELECT id, signal_type, t,
    list_transform(range(1, {n + 1}), j -> CASE
      WHEN j = 1 THEN CAST(t[2] AS DOUBLE) - CAST(t[1] AS DOUBLE)
      WHEN j = {n} THEN CAST(t[{n}] AS DOUBLE) - CAST(t[{n - 1}] AS DOUBLE)
      ELSE (CAST(t[j + 1] AS DOUBLE) - CAST(t[j - 1] AS DOUBLE)) / 2.0 END) AS g
  FROM trended
),
med AS (
  SELECT id, signal_type, t,
    list_sort(g[{n - traj_days + 1}:{n}]) AS s
  FROM grads
),
sc AS (
  SELECT id, signal_type,
    (CAST(s[(len(s) + 1) // 2] AS DOUBLE)
     + CAST(s[len(s) // 2 + 1] AS DOUBLE)) / 2.0 AS slope,
    CAST(t[{n}] AS DOUBLE) AS anchor
  FROM med
),
vals AS (
  SELECT signal_type,
    CAST(floor(CAST(CAST({_bround3("slope * 30.5")} AS FLOAT) AS DOUBLE)
         * 1000.0e0 + 0.5e0) AS BIGINT) AS tm,
    CAST(floor(CAST(CAST({_bround3(fold)} AS FLOAT) AS DOUBLE)
         * 1000.0e0 + 0.5e0) AS BIGINT) AS fm
  FROM sc
)
SELECT signal_type,
       CAST(count(*) AS BIGINT) AS n_series,
       CAST(sum(tm) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000.0e0) AS avg_trajectory,
       CAST(sum(fm) AS DOUBLE)
         / (CAST(count(*) AS DOUBLE) * 1000.0e0) AS avg_day92_forecast
FROM vals
GROUP BY signal_type
"""
    )


SYNTHETIC_PIPELINE_SQL = _synthetic_pipeline_sql()


def ts_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample to a dense daily grid with LINEAR interpolation between
    observations (companion to ts_resample_ffill): for a gap day d
    between observations (d0,v0) and (d1,v1),
    value = v0 + (v1-v0)·(d-d0)/(d1-d0) — a single deterministic
    closed form over exact day counts and cents.

    Construction: dense grid per user → left join observations →
    carry last observation forward AND next observation backward with
    (last/first, ignorenulls) windows → interpolate."""
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
    j = grid.join(d, ["user_id", "day"], "left")
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_c = F.last("cents", ignorenulls=True).over(w_back)
    prev_d = F.last(
        F.when(F.col("cents").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w_back)
    next_c = F.first("cents", ignorenulls=True).over(w_fwd)
    next_d = F.first(
        F.when(F.col("cents").isNotNull(), F.col("day")), ignorenulls=True
    ).over(w_fwd)
    gap = F.datediff(next_d, prev_d)
    offs = F.datediff(F.col("day"), prev_d)
    interp = F.when(F.col("cents").isNotNull(), F.col("cents").cast("double"))
    interp = interp.otherwise(
        prev_c + (next_c - prev_c).cast("double") * offs / gap
    )
    return j.select(
        "user_id",
        "day",
        (interp / 100.0).alias("value_interp"),
        F.col("cents").isNotNull().alias("observed"),
    )


TS_INTERPOLATE_SQL = (
    DAILY_CTE
    + """
, grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id)
), joined AS (
  SELECT g.user_id, g.day, d.cents
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
), carried AS (
  SELECT user_id, day, cents,
         last_value(cents IGNORE NULLS) OVER wb AS prev_c,
         last_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS prev_d,
         first_value(cents IGNORE NULLS) OVER wf AS next_c,
         first_value(CASE WHEN cents IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS next_d
  FROM joined
  WINDOW wb AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
            ELSE prev_c + CAST(next_c - prev_c AS DOUBLE)
                 * date_diff('day', prev_d, day) / date_diff('day', prev_d, next_d)
       END / 100.0 AS value_interp,
       cents IS NOT NULL AS observed
FROM carried
"""
)


def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full additive seasonal decomposition on the long form —
    value = trend + seasonal + remainder, the complete statsmodels
    `seasonal_decompose` surface (the reference consumes only `.trend`,
    SURVEY §2.5 W1; this exposes the other two components).

    Period = 7 (weekday). Trend = centered 7-day MA over full windows
    (NaN edges, statsmodels semantics before extrapolation); seasonal =
    per-(user, weekday) mean of the detrended series (uncentered);
    remainder = detrended − seasonal.

    Determinism: detrended is carried as exact integer 700ths
    (700·cents − Σ₇cents), so every aggregate is a bigint sum; each
    output is a fixed sequence of IEEE ops on exact integers, identical
    in DuckDB. Scale shape: two window passes over the same
    user-partitioning — one shuffle on user_id, the weekday partition
    is a sub-partition so AQE reuses the exchange."""
    d = daily_series(spark, sf_dir)
    w7 = Window.partitionBy("user_id").orderBy("day").rowsBetween(-3, 3)
    det700 = F.when(
        F.count(F.lit(1)).over(w7) == 7,
        F.lit(700) * F.col("cents") - F.sum("cents").over(w7),
    )
    t = d.select("user_id", "day", "cents", det700.alias("det700"))
    ws = Window.partitionBy("user_id", F.dayofweek("day"))
    seasonal = (
        F.sum("det700").over(ws).cast("double") / F.count("det700").over(ws)
    ) / 700.0
    return t.select(
        "user_id",
        "day",
        (F.col("cents") / 100.0).alias("value"),
        ((F.lit(700) * F.col("cents") - F.col("det700")) / 700.0).alias("trend7"),
        seasonal.alias("seasonal"),
        (F.col("det700") / 700.0 - seasonal).alias("remainder"),
    )


TS_DECOMPOSE_SQL = (
    DAILY_CTE
    + """
, t AS (
  SELECT user_id, day, cents,
         CASE WHEN count(*) OVER w = 7
              THEN 700 * cents - sum(cents) OVER w END AS det700
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
)
SELECT user_id, day,
       CAST(cents AS DOUBLE) / 100.0 AS value,
       CAST(700 * cents - det700 AS DOUBLE) / 700.0 AS trend7,
       (CAST(sum(det700) OVER ws AS DOUBLE) / count(det700) OVER ws) / 700.0
         AS seasonal,
       CAST(det700 AS DOUBLE) / 700.0
         - (CAST(sum(det700) OVER ws AS DOUBLE) / count(det700) OVER ws) / 700.0
         AS remainder
FROM t
WINDOW ws AS (PARTITION BY user_id, dayofweek(day))
"""
)


def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user: the day where the
    cumulative deviation from the series mean peaks — the classic
    single-changepoint estimator for a level shift (the reference's
    generator plants exactly such 'spike' level shifts,
    SURVEY §2.5 W12).

    Exactness: cusum_t = Σ₁..t(x−x̄) is held as n·S_t − t·total in
    integer cents (never a float mean), so the argmax and tiebreak
    (earliest day) are engine-independent; the reported magnitude is
    one final division. Shape: two window passes over one user_id
    shuffle + a per-user argmax (row_number = 1)."""
    d = daily_series(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("day")
    wall = Window.partitionBy("user_id")
    t = d.select(
        "user_id",
        "day",
        F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("_s"),
        F.row_number().over(wo).alias("_t"),
        F.sum("cents").over(wall).alias("_tot"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    ).select(
        "user_id",
        "day",
        "_n",
        (F.col("_n") * F.col("_s") - F.col("_t") * F.col("_tot")).alias("_dev"),
    )
    pick = Window.partitionBy("user_id").orderBy(
        F.abs(F.col("_dev")).desc(), F.asc("day")
    )
    return (
        t.withColumn("_rk", F.row_number().over(pick))
        .where(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("day").alias("changepoint_day"),
            (F.abs(F.col("_dev")) / (F.col("_n") * 100.0)).alias("cusum_peak"),
        )
    )


TS_CUSUM_SQL = (
    DAILY_CTE
    + """
, t AS (
  SELECT user_id, day,
         count(*) OVER wa AS n,
         count(*) OVER wa * sum(cents) OVER wo
           - (row_number() OVER wo) * (sum(cents) OVER wa) AS dev
  FROM daily
  WINDOW wo AS (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY user_id)
)
SELECT user_id, day AS changepoint_day,
       CAST(abs(dev) AS DOUBLE) / (n * 100.0) AS cusum_peak
FROM (
  SELECT user_id, day, n, dev,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY abs(dev) DESC, day ASC) AS rk
  FROM t
) WHERE rk = 1
"""
)


_ALPHA, _BETA, _HORIZON = 0.5, 0.3, 30


def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double-exponential) smoothing per series, 30-day
    forecast — the classical upgrade of the reference's median-slope
    linear extrapolation (W9): level and trend adapt exponentially
    instead of being a single robust slope.

    The recurrence is inherently sequential, so it runs as ONE
    `aggregate` fold over the per-series value array (state =
    struct(level, trend)) — per-series arrays stay on their executor,
    the only shuffle is the per-user collect. Oracle: the same fold as
    a DuckDB recursive CTE with expression structure mirrored term by
    term (identical IEEE evaluation order ⇒ identical doubles); also
    golden-tested against a NumPy reference in
    tests/test_timeseries_queries2.py."""
    d = daily_series(spark, sf_dir)
    series = (
        d.groupBy("user_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "cents"))).alias("_s")
        )
        .select(
            "user_id",
            F.expr("transform(_s, p -> CAST(p.cents AS DOUBLE) / 100.0)").alias("xs"),
        )
        .where(F.size("xs") >= 2)
    )
    a, b = _ALPHA, _BETA
    # NB: Spark's bracket indexing xs[i] is 0-based; slice() is 1-based.
    fold = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"named_struct('l', CAST({a} * xs[1] + {1-a} * (xs[0] + (xs[1] - xs[0])) AS DOUBLE), "
        f"             'b', CAST({b} * ({a} * xs[1] + {1-a} * (xs[0] + (xs[1] - xs[0])) - xs[0]) + {1-b} * (xs[1] - xs[0]) AS DOUBLE)), "
        f"(acc, x) -> named_struct("
        f"'l', {a} * x + {1-a} * (acc.l + acc.b), "
        f"'b', {b} * (({a} * x + {1-a} * (acc.l + acc.b)) - acc.l) + {1-b} * acc.b))"
    )
    # scalar output only (forecast endpoints, not the whole horizon
    # array): result canonicalizers hash scalar cells; the full curve
    # is l + h·b for any h anyway
    return series.select(
        "user_id",
        F.size("xs").cast("long").alias("n_days"),
        F.expr(f"round({fold}.l, 6)").alias("level"),
        F.expr(f"round({fold}.b, 6)").alias("trend"),
        F.expr(f"round({fold}.l + 1 * {fold}.b, 6)").alias("yhat_1"),
        F.expr(f"round({fold}.l + {_HORIZON} * {fold}.b, 6)").alias(
            f"yhat_{_HORIZON}"
        ),
    )


# Holt fold as a recursive CTE. Every arithmetic expression mirrors the
# Spark fold TERM BY TERM (same literals, same parenthesization, same
# left-to-right order) so both engines produce bit-identical doubles
# before the final round(…, 6) — the same technique the
# extrapolate_trend oracle uses for its sequential fold.
TS_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
),
ordered AS (
  SELECT user_id, CAST(cents AS DOUBLE) / 100.0 AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM daily
),
sizes AS (
  SELECT user_id, max(rn) AS n_days FROM ordered GROUP BY user_id
),
holt AS (
  SELECT o2.user_id, 2 AS rn,
         {_ALPHA} * o2.x + {1 - _ALPHA} * (o1.x + (o2.x - o1.x)) AS l,
         {_BETA} * (({_ALPHA} * o2.x + {1 - _ALPHA} * (o1.x + (o2.x - o1.x)))
                    - o1.x)
           + {1 - _BETA} * (o2.x - o1.x) AS b
  FROM ordered o1 JOIN ordered o2
    ON o1.user_id = o2.user_id AND o1.rn = 1 AND o2.rn = 2
  UNION ALL
  SELECT h.user_id, h.rn + 1,
         {_ALPHA} * o.x + {1 - _ALPHA} * (h.l + h.b) AS l,
         {_BETA} * (({_ALPHA} * o.x + {1 - _ALPHA} * (h.l + h.b)) - h.l)
           + {1 - _BETA} * h.b AS b
  FROM holt h JOIN ordered o ON o.user_id = h.user_id AND o.rn = h.rn + 1
)
SELECT h.user_id,
       CAST(s.n_days AS BIGINT) AS n_days,
       round(h.l, 6) AS level,
       round(h.b, 6) AS trend,
       round(h.l + 1 * h.b, 6) AS yhat_1,
       round(h.l + {_HORIZON} * h.b, 6) AS yhat_{_HORIZON}
FROM holt h
JOIN sizes s ON h.user_id = s.user_id AND h.rn = s.n_days
"""


# Rolling-origin backtest: the model-evaluation loop every forecast
# pipeline runs. Three train cutoffs, five-day horizon; per (user,
# cutoff) an OLS line is fit on the daily-cents history ≤ cutoff and
# scored against the actuals that materialized after it. ALL model
# math is exact integer rational arithmetic — slope = num/den and
# pred(x) = (sy·den − num·sx + n·num·x)/(n·den) with BIGINT
# numerators — so both engines divide the same integers and the
# resulting doubles are bit-identical (FP-sum order never matters;
# the only float reduction is over rounded milli-cent errors, which
# are integers again). This is the evaluation analogue of
# ts_linear_forecast (reference notebooks/utils.py:222-245 forecasts
# but never backtests — beyond-reference scope).
_BT_CUTOFFS = ("2024-01-15", "2024-01-20", "2024-01-25")
_BT_H = 5
_BT_EPOCH = "2024-01-01"

# Loss registry (round 7, brief #6; unified round 8): the shared
# operators/losses.py module is the single definition — backtest,
# scoring-pipeline metric extraction, and holdout evaluation all
# consume the same (a, f) -> integer-contribution fragments, valid
# verbatim in both Spark SQL and DuckDB.
from time_series_prediction_spark.operators.losses import (  # noqa: E402
    LOSSES as _BT_LOSSES,
)


def linear_backtest(
    spark: SparkSession,
    sf_dir: str,
    cutoffs: tuple[str, ...] = _BT_CUTOFFS,
    horizon: int = _BT_H,
    losses: tuple[str, ...] = ("mae",),
) -> DataFrame:
    """Parameterized rolling-origin backtest: per train ``cutoff``, an
    OLS line fit on daily cents <= cutoff, scored on the actuals in
    (cutoff, cutoff+horizon] under every requested loss. All model
    math is exact integer rationals (see the r6 note below); each loss
    contribution is integer-rounded so aggregation order never
    matters, making every loss oracle-checkable."""
    d = daily_series(spark, sf_dir).withColumn(
        "x", F.datediff("day", F.lit(_BT_EPOCH).cast("date")).cast("long")
    )
    # conditional aggregation instead of a broadcast-join against the
    # cutoff list: every cutoff's training sums come from ONE
    # groupBy(user) over the un-duplicated daily table (the join form
    # shuffles |cutoffs|× the data — at 100 TB with a dense backtest
    # grid that multiplier is the whole cost). The per-cutoff rows are
    # then unfolded from the single aggregate row with a stack.
    sums = []
    for i, c in enumerate(cutoffs):
        within = F.col("day") <= F.lit(c).cast("date")
        zl = F.lit(0).cast("long")
        sums += [
            F.sum(F.when(within, 1).otherwise(0)).cast("long").alias(f"n_{i}"),
            F.sum(F.when(within, F.col("x")).otherwise(zl)).alias(f"sx_{i}"),
            F.sum(F.when(within, F.col("cents")).otherwise(zl)).alias(f"sy_{i}"),
            F.sum(
                F.when(within, F.col("x") * F.col("cents")).otherwise(zl)
            ).alias(f"sxy_{i}"),
            F.sum(
                F.when(within, F.col("x") * F.col("x")).otherwise(zl)
            ).alias(f"sxx_{i}"),
        ]
    wide = d.groupBy("user_id").agg(*sums)
    stack = ", ".join(
        f"CAST('{c}' AS DATE), n_{i}, sx_{i}, sy_{i}, sxy_{i}, sxx_{i}"
        for i, c in enumerate(cutoffs)
    )
    agg = (
        wide.select(
            "user_id",
            F.expr(
                f"stack({len(cutoffs)}, {stack}) AS "
                "(cutoff, n, sx, sy, sxy, sxx)"
            ),
        )
        .where(F.col("n") >= 2)
        .withColumn("num", F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .withColumn("den", F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .where(F.col("den") != 0)
    )
    preds = (
        agg.select("*", F.explode(F.expr(f"sequence(1, {horizon})")).alias("i"))
        .withColumn("fday", F.expr("date_add(cutoff, i)"))
        .withColumn(
            "fx", F.datediff("fday", F.lit(_BT_EPOCH).cast("date")).cast("long")
        )
    )
    actual = d.select(
        "user_id", F.col("day").alias("fday"), F.col("cents").alias("actual")
    )
    pred = (
        F.col("sy") * F.col("den")
        - F.col("num") * F.col("sx")
        + F.col("n") * F.col("num") * F.col("fx")
    ).cast("double") / (F.col("n") * F.col("den")).cast("double")
    scored = (
        preds.join(actual, ["user_id", "fday"])
        .select(
            F.col("cutoff").alias("cutoff_day"),
            F.col("actual").cast("double").alias("a"),
            pred.alias("f"),
        )
    )
    from time_series_prediction_spark.operators.losses import (
        loss_sum_aggs,
    )

    loss_aggs = [F.count(F.lit(1)).cast("long").alias("n_pred")]
    loss_aggs += loss_sum_aggs(losses)
    return scored.groupBy("cutoff_day").agg(*loss_aggs)


def linear_backtest_sql(
    cutoffs: tuple[str, ...] = _BT_CUTOFFS,
    horizon: int = _BT_H,
    losses: tuple[str, ...] = ("mae",),
) -> str:
    """DuckDB oracle for ``linear_backtest`` — same grid, same loss
    terms verbatim (the fragments are valid in both dialects)."""
    loss_cols = ",\n       ".join(
        f"CAST(sum({_BT_LOSSES[loss][1]}) AS BIGINT) AS {_BT_LOSSES[loss][0]}"
        for loss in losses
    )
    return (
        DAILY_CTE
        + f"""
, d AS (
  SELECT user_id, day, cents,
         CAST(day - DATE '{_BT_EPOCH}' AS BIGINT) AS x
  FROM daily
), cuts AS (
  SELECT unnest([{", ".join(f"DATE '{c}'" for c in cutoffs)}]) AS cutoff
), agg AS (
  SELECT user_id, cutoff,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum(x * cents) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM d JOIN cuts ON d.day <= cuts.cutoff
  GROUP BY user_id, cutoff
  HAVING count(*) >= 2
), model AS (
  SELECT *, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
  FROM agg
  WHERE n * sxx - sx * sx != 0
), preds AS (
  SELECT m.*, m.cutoff + CAST(h.i AS INTEGER) AS fday,
         CAST(m.cutoff + CAST(h.i AS INTEGER) - DATE '{_BT_EPOCH}' AS BIGINT) AS fx
  FROM model m, (SELECT unnest(range(1, {horizon + 1})) AS i) h
), scored AS (
  SELECT p.cutoff AS cutoff_day,
         CAST(d.cents AS DOUBLE) AS a,
         CAST(p.sy * p.den - p.num * p.sx + p.n * p.num * p.fx AS DOUBLE)
           / CAST(p.n * p.den AS DOUBLE) AS f
  FROM preds p JOIN d ON d.user_id = p.user_id AND d.day = p.fday
)
SELECT cutoff_day,
       CAST(count(*) AS BIGINT) AS n_pred,
       {loss_cols}
FROM scored
GROUP BY cutoff_day
"""
    )


def ts_backtest_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r6 surface, now a thin instantiation of the parameterized
    backtest: 3 cutoffs, 5-day horizon, MAE."""
    return linear_backtest(spark, sf_dir)


# a DIFFERENT grid + losses for the second registry surface: denser
# weekly cutoffs, a 7-day horizon, and the sMAPE/pinball pair a
# forecaster actually sweeps alongside MAE
_BT2_CUTOFFS = ("2024-01-12", "2024-01-17", "2024-01-22", "2024-01-27")
_BT2_H = 7


def ts_backtest_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    return linear_backtest(
        spark,
        sf_dir,
        cutoffs=_BT2_CUTOFFS,
        horizon=_BT2_H,
        losses=("smape", "pinball90"),
    )


TS_BACKTEST_SQL = linear_backtest_sql()
TS_BACKTEST_SMAPE_SQL = linear_backtest_sql(
    cutoffs=_BT2_CUTOFFS, horizon=_BT2_H, losses=("smape", "pinball90")
)


def ts_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast per series (the M3-competition benchmark
    winner, in its standard two-line decomposition): the forecast is
    the SES level of the series plus HALF the linear-regression drift
    per step — combining the engine's two proven forecast disciplines,
    the mirrored sequential fold (``ts_holt_forecast``) for SES and
    exact integer-rational OLS (``ts_backtest_linear``) for the drift.

    Oracle-exactness: the SES recurrence is ONE ``aggregate`` fold
    whose expression structure the DuckDB recursive CTE mirrors term
    by term (identical IEEE order ⇒ identical doubles); the OLS slope
    is a ratio of two exact BIGINT sums (Σi and Σi² by closed form,
    Σy and Σi·y by integer folds — order-free), so both engines
    perform the same single division.

    Scale shape: one per-user shuffle (the daily rollup feeds a
    collect_list), then everything — folds, integer sums, closed
    forms, forecasts — is in-row array math on the executor; identical
    cost profile to the Holt query it sits beside."""
    d = daily_series(spark, sf_dir)
    series = (
        d.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("day", "cents"))
            ).alias("_s")
        )
        .select(
            "user_id",
            F.expr("transform(_s, p -> p.cents)").alias("cs"),
            F.expr(
                "transform(_s, p -> CAST(p.cents AS DOUBLE) / 100.0)"
            ).alias("xs"),
        )
        .where(F.size("xs") >= 2)
    )
    a = _ALPHA
    ses = (
        f"aggregate(slice(xs, 2, size(xs) - 1), "
        f"CAST(element_at(xs, 1) AS DOUBLE), "
        f"(acc, x) -> {a} * x + {1 - a} * acc)"
    )
    stats = series.select(
        "user_id",
        F.expr("CAST(size(cs) AS BIGINT)").alias("n_days"),
        F.expr("aggregate(cs, 0L, (acc, v) -> acc + v)").alias("sy"),
        F.expr(
            "aggregate(sequence(1, size(cs)), 0L, "
            "(acc, i) -> acc + CAST(i AS BIGINT) * element_at(cs, i))"
        ).alias("sxy"),
        F.expr(ses).alias("l"),
    ).select(
        "user_id",
        "n_days",
        "l",
        F.expr("(n_days * (n_days + 1)) div 2").alias("sx"),
        F.expr(
            "(n_days * (n_days + 1) * (2 * n_days + 1)) div 6"
        ).alias("sxx"),
        "sy",
        "sxy",
    )
    return stats.select(
        "user_id",
        "n_days",
        F.expr("round(l, 6)").alias("level"),
        F.expr(
            "round(0.5e0 * ((CAST(n_days * sxy - sx * sy AS DOUBLE)"
            " / CAST(n_days * sxx - sx * sx AS DOUBLE)) / 100.0e0), 6)"
        ).alias("drift"),
        F.expr(
            "round(l + 0.5e0 * ((CAST(n_days * sxy - sx * sy AS DOUBLE)"
            " / CAST(n_days * sxx - sx * sx AS DOUBLE)) / 100.0e0)"
            " * 1, 6)"
        ).alias("yhat_1"),
        F.expr(
            "round(l + 0.5e0 * ((CAST(n_days * sxy - sx * sy AS DOUBLE)"
            " / CAST(n_days * sxx - sx * sx AS DOUBLE)) / 100.0e0)"
            f" * {_HORIZON}, 6)"
        ).alias(f"yhat_{_HORIZON}"),
    )


TS_THETA_SQL = f"""
WITH RECURSIVE daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  GROUP BY user_id, CAST(ts AS DATE)
),
ordered AS (
  SELECT user_id, cents, CAST(cents AS DOUBLE) / 100.0 AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM daily
),
sums AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(cents) AS BIGINT) AS sy,
         CAST(sum(rn * cents) AS BIGINT) AS sxy
  FROM ordered GROUP BY user_id
  HAVING count(*) >= 2
),
ols AS (
  SELECT user_id, n_days, sy, sxy,
         (n_days * (n_days + 1)) // 2 AS sx,
         (n_days * (n_days + 1) * (2 * n_days + 1)) // 6 AS sxx
  FROM sums
),
ses AS (
  SELECT user_id, 1 AS rn, x AS l FROM ordered WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.rn + 1, {_ALPHA} * o.x + {1 - _ALPHA} * s.l
  FROM ses s JOIN ordered o
    ON o.user_id = s.user_id AND o.rn = s.rn + 1
)
SELECT o.user_id, o.n_days,
       round(s.l, 6) AS level,
       round(0.5e0 * ((CAST(o.n_days * o.sxy - o.sx * o.sy AS DOUBLE)
         / CAST(o.n_days * o.sxx - o.sx * o.sx AS DOUBLE)) / 100.0e0), 6)
         AS drift,
       round(s.l + 0.5e0 * ((CAST(o.n_days * o.sxy - o.sx * o.sy AS DOUBLE)
         / CAST(o.n_days * o.sxx - o.sx * o.sx AS DOUBLE)) / 100.0e0)
         * 1, 6) AS yhat_1,
       round(s.l + 0.5e0 * ((CAST(o.n_days * o.sxy - o.sx * o.sy AS DOUBLE)
         / CAST(o.n_days * o.sxx - o.sx * o.sx AS DOUBLE)) / 100.0e0)
         * {_HORIZON}, 6) AS yhat_{_HORIZON}
FROM ols o
JOIN ses s ON s.user_id = o.user_id AND s.rn = o.n_days
"""


TIMESERIES2_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "ts_theta_forecast": (ts_theta_forecast, TS_THETA_SQL),
    "ts_backtest_linear": (ts_backtest_linear, TS_BACKTEST_SQL),
    "ts_backtest_smape": (ts_backtest_smape, TS_BACKTEST_SMAPE_SQL),
    "ts_holt_forecast": (ts_holt_forecast, TS_HOLT_SQL),
    "ts_seasonal_decompose": (ts_seasonal_decompose, TS_DECOMPOSE_SQL),
    "ts_changepoint_cusum": (ts_changepoint_cusum, TS_CUSUM_SQL),
    "events_json_props": (events_json_props, EVENTS_JSON_SQL),
    "cashflow_synthetic_pipeline": (
        cashflow_synthetic_pipeline,
        SYNTHETIC_PIPELINE_SQL,
    ),
    "ts_resample_interpolate": (ts_resample_interpolate, TS_INTERPOLATE_SQL),
    "ts_rolling_stats": (ts_rolling_stats, TS_ROLLING_SQL),
    "ts_weekly_ohlc": (ts_weekly_ohlc, TS_OHLC_SQL),
    "ts_ewma_7": (ts_ewma_7, TS_EWMA_SQL),
    "ts_anomaly_flags": (ts_anomaly_flags, TS_ANOMALY_SQL),
    "ts_lag1_autocorr": (ts_lag1_autocorr, TS_AUTOCORR_SQL),
    "events_daily_retention": (events_daily_retention, EVENTS_RETENTION_SQL),
}
