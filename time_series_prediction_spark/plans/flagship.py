"""Flagship end-to-end query: the reference's cashflow-forecast
pipeline applied to the driver's events fixture.

events → exact-cents daily series per user → wide arrays (long→wide
reshape) → cleaning flag → seasonal-decompose trend (freq=7 for the
~30-day fixtures) → linear trend extrapolation 14 days ahead →
trajectory slope metric — i.e. the reference lifecycle (SURVEY §3.3
serving path) compressed to one lazy DataFrame: generation-scale
array math with no Python UDFs and exactly TWO small shuffles — the
(user, day) rollup exchange and the per-user collect exchange, both
over already-aggregated rows; all per-series math afterwards is
shuffle-free array expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_prediction_spark.operators import timeseries as ts
from time_series_prediction_spark.operators.reshape import long_to_wide
from time_series_prediction_spark.plans.timeseries_queries import daily_series

# The fixture configuration of every flagship query and its DuckDB
# oracle (the fixture series are 21-30 days long): a 7-day seasonal
# period (odd, so the trend is a plain centered moving average),
# keep_ts's 5-change threshold and a 7-day trend window.
_FREQ = 7
_THRESHOLD_COUNT = 5
_TREND_WINDOW_DAYS = 7
_WIDE_HORIZON_DAYS = 14
_HOLDOUT_DAYS = 7
# cashflow_scoring_pipeline: X = 14 days, y = 7 days, R² at the full
# horizon and at 3 days
_X_DAYS = 14
_Y_DAYS = 7
_ONE_MONTH_DAYS = 3


def cashflow_wide_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user forecast summary: (user_id, n_days, keep_ts,
    trajectory, forecast array<float> of len horizon_days)."""
    long_df = daily_series(spark, sf_dir).select(
        "user_id", "day", (F.col("cents") / 100.0).alias("value")
    )
    wide = long_to_wide(
        long_df,
        id_col="user_id",
        ds_col="day",
        value_col="value",
        out_date="days",
        out_value="balance",
    )
    return (
        wide.withColumn("n_days", F.size("balance"))
        .where(F.col("n_days") >= _FREQ + 2)
        .withColumn("keep_ts", ts.keep_ts("balance", _THRESHOLD_COUNT))
        .where(F.col("keep_ts") == 1)
        .withColumn("trend", ts.trend("balance", freq=_FREQ))
        .withColumn(
            "forecast",
            ts.extrapolate_trend(
                "trend",
                window_days=_TREND_WINDOW_DAYS,
                horizon_days=_WIDE_HORIZON_DAYS,
                serving=True,
            ),
        )
        .withColumn("trajectory", ts.trajectory("trend", window_months=1))
        .select("user_id", "n_days", "keep_ts", "trajectory", "forecast")
    )


def cashflow_scoring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FULL scoring lifecycle S.1 → S.3 + E.2 (SURVEY
    §3.3; reference ``notebooks/scoring.py:184-488``) as one registry
    query: events → wide per-user series → clean (native keep_ts
    predicate) → pre_processing (trend/detrend/scale/get_X/get_y,
    evaluation mode) → iterator-pandas_udf scoring with the
    last-value persistence model → post_processing (rescale +
    as-shipped no-op retrend) → Spark-native R² (reference
    ``metric_extraction``, utils.py:502-538, computed distributed
    instead of toPandas).

    Horizons are scaled to the fixture (series are 21-30 days):
    X = 14 days, y = 7 days, R² at the full horizon and at 3 days.
    Oracle-backed end to end since round 8 (CASHFLOW_SCORING_SQL):
    the last-value model's pandas_udf stage does no arithmetic
    (float32 passthrough of X's last element), so the whole lifecycle
    — pre-processing rounding ladder, udf output, rescale, and the
    ppm-quantized distributed R² — replays as DuckDB list algebra.
    Model-quality ordering (last-value beats zero model) is pinned in
    tests/test_model_scoring.py."""
    from time_series_prediction_spark.model.scoring import (
        last_value_model_factory,
        score_dataframe,
    )
    from time_series_prediction_spark.plans.preprocess import (
        clean_series,
        post_processing,
        pre_processing,
        r2_metrics,
    )

    long_df = daily_series(spark, sf_dir).select(
        "user_id", "day", (F.col("cents") / 100.0).alias("value")
    )
    wide = long_to_wide(
        long_df,
        id_col="user_id",
        ds_col="day",
        value_col="value",
        out_date="days",
        out_value="balance",
    ).where(F.size("balance") >= _X_DAYS + _Y_DAYS)
    cleaned = clean_series(wide, threshold_count=_THRESHOLD_COUNT)
    pre = pre_processing(
        cleaned,
        end_date="2024-01-01",
        serving=False,
        freq=_FREQ,
        x_days=_X_DAYS,
        y_days=_Y_DAYS,
        trend_window_days=_FREQ,
    )
    scored = score_dataframe(
        pre, last_value_model_factory(_Y_DAYS), horizon=_Y_DAYS
    )
    post = post_processing(scored)
    # distributed metric extraction over the SHARED loss registry
    # (operators/losses.py — the same definitions the backtest
    # sweeps), alongside the R² pair: any registered loss is one more
    # aggregate column in the SAME single pass, never a toPandas
    return r2_metrics(
        post, y_days=_Y_DAYS, one_month_days=_ONE_MONTH_DAYS,
        losses=("mae", "smape"),
    ).select(
        F.col("r2_3month").alias("r2_horizon"),
        F.col("r2_1month").alias("r2_3day"),
        F.col("n_series").cast("long").alias("n_series"),
        "sum_abs_err_mc",
        "sum_smape_ppm",
    )


def cashflow_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout evaluation of the NATIVE forecast under the shared
    loss registry (operators/losses.py): per user, the last
    ``horizon_days`` are held out, the trend+extrapolation pipeline
    (W1→W9, the reference's serving math) fits on the remainder, and
    the forecast is scored against the held-out actuals with every
    registered loss — one distributed aggregate row (n_series,
    n_pred, one integer sum per loss). This closes the loop the
    reference never did: its metric_extraction collects to the driver
    and only ever computes R² (reference ``notebooks/utils.py:502``);
    here the same registry serves the backtest sweep, the scoring
    pipeline, and this evaluation, all shuffle-light (the only
    exchanges are the daily rollup and the per-user collect).
    Oracle-backed end to end — training, forecasting, and the losses
    replay in DuckDB (CASHFLOW_HOLDOUT_SQL)."""
    from time_series_prediction_spark.operators.losses import (
        series_loss_aggs,
    )

    h = _HOLDOUT_DAYS
    long_df = daily_series(spark, sf_dir).select(
        "user_id", "day", (F.col("cents") / 100.0).alias("value")
    )
    wide = long_to_wide(
        long_df,
        id_col="user_id",
        ds_col="day",
        value_col="value",
        out_date="days",
        out_value="balance",
    )
    df = (
        wide.withColumn("n", F.size("balance"))
        .where(F.col("n") >= _FREQ + 2 + h)
        .withColumn(
            "train", F.expr(f"slice(balance, 1, size(balance) - {h})")
        )
        .withColumn("keep_ts", ts.keep_ts("train", _THRESHOLD_COUNT))
        .where(F.col("keep_ts") == 1)
        .withColumn("trend", ts.trend("train", freq=_FREQ))
        .withColumn(
            "forecast",
            ts.extrapolate_trend(
                "trend",
                window_days=_TREND_WINDOW_DAYS,
                horizon_days=h,
                serving=True,
            ),
        )
        .withColumn(
            "actual",
            F.expr(f"slice(balance, size(balance) - {h} + 1, {h})"),
        )
    )
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_series"),
        (F.count(F.lit(1)) * h).cast("long").alias("n_pred"),
        *series_loss_aggs(
            ("mae", "smape", "pinball90"), "actual", "forecast"
        ),
    )


def _bround3(v: str) -> str:
    """DuckDB mirror of Spark's ``bround(v, 3)`` on DOUBLE.

    Spark routes doubles through ``BigDecimal.valueOf`` — i.e. the
    SHORTEST decimal representation of the double, not its exact
    binary expansion — then rounds HALF_EVEN. DuckDB's ``round`` does
    neither, so this builds the same semantics from exact pieces:
    the VARCHAR cast is DuckDB's shortest round-trip repr, the
    DECIMAL(38,20) parse is exact on it, and the floor/remainder CASE
    is textbook half-even. Fuzz-verified identical to Spark on 67k
    doubles including planted dyadic midpoints (odd/16)."""
    d = f"CAST(CAST({v} AS VARCHAR) AS DECIMAL(38,20)) * 1000"
    return (
        f"list_transform([{d}], _s -> "
        f"list_transform([floor(_s)], _f -> "
        f"CASE WHEN _s - _f > 0.5 THEN _f + 1 "
        f"WHEN _s - _f < 0.5 THEN _f "
        f"WHEN CAST(_f AS BIGINT) % 2 = 0 THEN _f "
        f"ELSE _f + 1 END)[1])[1] / 1000.0"
    )


def _cashflow_wide_sql() -> str:
    """DuckDB oracle for ``cashflow_wide_summary`` — the reference's
    semantic core (W1 trend → W9 extrapolation → W10 trajectory)
    re-derived as list-lambda SQL with the IDENTICAL sequence of IEEE
    operations the Spark array expressions perform: float32-truncated
    series, sequential left-fold window sums, statsmodels npoints=1
    edge extrapolation, np.gradient, exact medians with Spark's
    truncating index arithmetic, the day-by-day forecast recurrence as
    a left fold, and shortest-repr half-even rounding (``_bround3``).
    Only freq=7 (odd ⇒ plain centered MA) is generated — the fixture
    configuration; the Spark operators themselves take any freq."""
    trim = (_FREQ - 1) // 2
    h = _WIDE_HORIZON_DAYS
    tc = _THRESHOLD_COUNT
    from time_series_prediction_spark.plans.timeseries_queries import DAILY_CTE

    trend_case = (
        f"CASE WHEN j <= {trim} THEN "
        f"vf * ({trim}.0 * CAST(j - 1 AS DOUBLE) + 1.0) / ({trim * trim} + 1.0) "
        f"WHEN j >= n - {trim - 1} THEN "
        f"vb * (x0b * CAST(j - 1 AS DOUBLE) + 1.0) / (x0b * x0b + 1.0) "
        f"ELSE raw[j] END"
    )
    f_last = (
        f"list_reduce(list_prepend(anchor, "
        f"list_transform(range(1, {h + 1}), _d -> slope)), (a, v) -> a + v)"
    )
    return (
        DAILY_CTE
        + f"""
, series AS (
  SELECT user_id,
         list_transform(array_agg(cents ORDER BY day),
                        c -> CAST(CAST(c AS DOUBLE) / 100.0 AS FLOAT)) AS b,
         CAST(count(*) AS INT) AS n
  FROM daily GROUP BY user_id
),
kept AS (
  SELECT * FROM series
  WHERE n >= {_FREQ + 2}
    AND len(list_filter(b, v -> v != b[1])) > 0
    AND len(list_filter(range(2, n + 1), j ->
          (CAST(b[j] AS DOUBLE) - CAST(b[j - 1] AS DOUBLE)) != 0.0)) >= {tc}
),
rawt AS (
  SELECT user_id, n, b,
    list_transform(range(1, n + 1), j ->
      CASE WHEN j >= {trim + 1} AND j <= n - {trim} THEN
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(b[j - {trim}:j + {trim}], v -> CAST(v AS DOUBLE))),
          (a, v) -> a + v) / {_FREQ}.0
      ELSE NULL END) AS raw
  FROM kept
),
edges AS (
  SELECT user_id, n, raw,
         raw[{trim + 1}] AS vf,
         raw[n - {trim + 1}] AS vb,
         CAST(n - {trim + 2} AS DOUBLE) AS x0b
  FROM rawt
),
trended AS (
  SELECT user_id, n,
    list_transform(range(1, n + 1), j ->
      CAST({_bround3(trend_case)} AS FLOAT)) AS t
  FROM edges
),
grads AS (
  SELECT user_id, n, t,
    list_transform(range(1, n + 1), j -> CASE
      WHEN j = 1 THEN CAST(t[2] AS DOUBLE) - CAST(t[1] AS DOUBLE)
      WHEN j = n THEN CAST(t[n] AS DOUBLE) - CAST(t[n - 1] AS DOUBLE)
      ELSE (CAST(t[j + 1] AS DOUBLE) - CAST(t[j - 1] AS DOUBLE)) / 2.0 END) AS g
  FROM trended
),
fc AS (
  SELECT user_id, n,
    list_sort(g[n - {_FREQ - 1}:n]) AS s7,
    list_sort(g[greatest(n - 29, 1):n]) AS s30,
    CAST(t[n] AS DOUBLE) AS anchor
  FROM grads
),
sc AS (
  SELECT user_id, n, anchor,
    (CAST(s7[(len(s7) + 1) // 2] AS DOUBLE)
     + CAST(s7[len(s7) // 2 + 1] AS DOUBLE)) / 2.0 AS slope,
    (CAST(s30[(len(s30) + 1) // 2] AS DOUBLE)
     + CAST(s30[len(s30) // 2 + 1] AS DOUBLE)) / 2.0 AS med30
  FROM fc
)
SELECT user_id,
       n AS n_days,
       1 AS keep_ts,
       CAST({_bround3("med30 * 30.5")} AS FLOAT) AS trajectory,
       CAST(CAST({_bround3("slope + anchor")} AS FLOAT) AS DOUBLE) AS forecast_d1,
       CAST(CAST({_bround3(f_last)} AS FLOAT) AS DOUBLE) AS forecast_last,
       CAST({h} AS BIGINT) AS horizon_days
FROM sc
"""
    )


CASHFLOW_WIDE_SQL = _cashflow_wide_sql()


def _cashflow_holdout_sql() -> str:
    """DuckDB oracle for ``cashflow_holdout_eval``: the wide-pipeline
    template (see ``_cashflow_wide_sql`` for the op-sequence notes)
    applied to the TRAIN slice ``b[1 : n-h]``, a per-day forecast via
    the sequential-fold recurrence, and the shared registry's loss
    terms verbatim over the (actual, forecast) pairs."""
    from time_series_prediction_spark.operators.losses import LOSSES
    from time_series_prediction_spark.plans.timeseries_queries import (
        DAILY_CTE,
    )

    trim = (_FREQ - 1) // 2
    h = _HOLDOUT_DAYS
    tc = _THRESHOLD_COUNT
    trend_case = (
        f"CASE WHEN j <= {trim} THEN "
        f"vf * ({trim}.0 * CAST(j - 1 AS DOUBLE) + 1.0) / ({trim * trim} + 1.0) "
        f"WHEN j >= m - {trim - 1} THEN "
        f"vb * (x0b * CAST(j - 1 AS DOUBLE) + 1.0) / (x0b * x0b + 1.0) "
        f"ELSE raw[j] END"
    )
    fold_dd = (
        "list_reduce(list_prepend(anchor, "
        "list_transform(range(1, dd + 1), _d -> slope)), (a, v) -> a + v)"
    )
    loss_cols = ",\n       ".join(
        f"CAST(sum({LOSSES[loss][1]}) AS BIGINT) AS {LOSSES[loss][0]}"
        for loss in ("mae", "smape", "pinball90")
    )
    return (
        DAILY_CTE
        + f"""
, series AS (
  SELECT user_id,
         list_transform(array_agg(cents ORDER BY day),
                        c -> CAST(CAST(c AS DOUBLE) / 100.0 AS FLOAT)) AS b,
         CAST(count(*) AS INT) AS n
  FROM daily GROUP BY user_id
),
elig AS (
  SELECT user_id, b, n, CAST(n - {h} AS INT) AS m, b[1:n - {h}] AS tr
  FROM series WHERE n >= {_FREQ + 2 + h}
),
kept AS (
  SELECT * FROM elig
  WHERE len(list_filter(tr, v -> v != tr[1])) > 0
    AND len(list_filter(range(2, m + 1), j ->
          (CAST(tr[j] AS DOUBLE) - CAST(tr[j - 1] AS DOUBLE)) != 0.0)) >= {tc}
),
rawt AS (
  SELECT user_id, b, m,
    list_transform(range(1, m + 1), j ->
      CASE WHEN j >= {trim + 1} AND j <= m - {trim} THEN
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(tr[j - {trim}:j + {trim}], v -> CAST(v AS DOUBLE))),
          (a, v) -> a + v) / {_FREQ}.0
      ELSE NULL END) AS raw
  FROM kept
),
edges AS (
  SELECT user_id, b, m, raw,
         raw[{trim + 1}] AS vf,
         raw[m - {trim + 1}] AS vb,
         CAST(m - {trim + 2} AS DOUBLE) AS x0b
  FROM rawt
),
trended AS (
  SELECT user_id, b, m,
    list_transform(range(1, m + 1), j ->
      CAST({_bround3(trend_case)} AS FLOAT)) AS t
  FROM edges
),
grads AS (
  SELECT user_id, b, m, t,
    list_transform(range(1, m + 1), j -> CASE
      WHEN j = 1 THEN CAST(t[2] AS DOUBLE) - CAST(t[1] AS DOUBLE)
      WHEN j = m THEN CAST(t[m] AS DOUBLE) - CAST(t[m - 1] AS DOUBLE)
      ELSE (CAST(t[j + 1] AS DOUBLE) - CAST(t[j - 1] AS DOUBLE)) / 2.0 END) AS g
  FROM trended
),
fc AS (
  SELECT user_id, b, m,
    list_sort(g[m - {_FREQ - 1}:m]) AS s7,
    CAST(t[m] AS DOUBLE) AS anchor
  FROM grads
),
sc AS (
  SELECT user_id, b, m, anchor,
    (CAST(s7[(len(s7) + 1) // 2] AS DOUBLE)
     + CAST(s7[len(s7) // 2 + 1] AS DOUBLE)) / 2.0 AS slope
  FROM fc
),
pairs AS (
  SELECT user_id,
         CAST(b[m + dd] AS DOUBLE) AS a,
         CAST(CAST({_bround3(fold_dd)} AS FLOAT) AS DOUBLE) AS f
  FROM sc CROSS JOIN (SELECT unnest(range(1, {h + 1})) AS dd) hh
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sc) AS n_series,
       CAST(count(*) AS BIGINT) AS n_pred,
       {loss_cols}
FROM pairs
"""
    )


CASHFLOW_HOLDOUT_SQL = _cashflow_holdout_sql()


def _cashflow_scoring_sql() -> str:
    """DuckDB oracle for ``cashflow_scoring_pipeline`` — the serving
    lifecycle value-hash-verified END TO END, pandas_udf stage
    included.

    The scoring stage is an iterator pandas_udf, but with the
    last-value persistence model its ARITHMETIC is pure float32
    passthrough: ``y_pred[j] = X[x_days]`` with no computation, so the
    udf's output is exactly expressible as list algebra and the whole
    pipeline replays in DuckDB: exact-cents daily series → float32
    wide series → keep_ts gate → per-series mean/std as sequential
    folds (std over the UNROUNDED mean, mirroring numpy's two-pass) →
    shortest-repr half-even 3-rounding (``_bround3``) at every W4-W7
    step → repeat-last prediction → W5 rescale → per-series R² folds
    quantized to integer ppm (see ``r2_metrics``) → order-free
    integer aggregates. The trend columns the Spark pipeline also
    computes (W1/W9) do not reach the output — detrend/retrend are
    the as-shipped no-ops — so the oracle omits them.

    Fixture configuration only (X=14, y=7, R² at 7 and 3 days); the
    Spark pipeline itself takes any horizon."""
    x, h, om, tc = _X_DAYS, _Y_DAYS, _ONE_MONTH_DAYS, _THRESHOLD_COUNT
    n_min = x + h
    from time_series_prediction_spark.operators.losses import LOSSES
    from time_series_prediction_spark.plans.timeseries_queries import (
        DAILY_CTE,
    )

    def fold(items: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {items}), "
            f"(a, v) -> a + v)"
        )

    def sq_dev(arr: str, mean: str) -> str:
        return (
            f"list_transform({arr}, v -> (CAST(v AS DOUBLE) - {mean}) "
            f"* (CAST(v AS DOUBLE) - {mean}))"
        )

    def sq_err(t: str, p: str, n: int) -> str:
        d = f"(CAST({t}[j] AS DOUBLE) - CAST({p}[j] AS DOUBLE))"
        return (
            f"list_transform(range(1, {n + 1}), j -> {d} * {d})"
        )

    def ppm(sse: str, sst: str) -> str:
        return (
            f"CASE WHEN {sst} = 0.0 THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(floor((1.0e0 - {sse} / {sst}) * 1000000.0e0 "
            f"+ 0.5e0) AS BIGINT) END"
        )

    loss_cols = ",\n       ".join(
        f"CAST(sum({LOSSES[loss][1]}) AS BIGINT) AS {LOSSES[loss][0]}"
        for loss in ("mae", "smape")
    )
    var_fold = fold(sq_dev("b", "mraw"))
    return (
        DAILY_CTE
        + f"""
, series AS (
  SELECT user_id,
         list_transform(array_agg(cents ORDER BY day),
                        c -> CAST(CAST(c AS DOUBLE) / 100.0 AS FLOAT)) AS b,
         CAST(count(*) AS INT) AS n
  FROM daily GROUP BY user_id
),
kept AS (
  SELECT * FROM series
  WHERE n >= {n_min}
    AND len(list_filter(b, v -> v != b[1])) > 0
    AND len(list_filter(range(2, n + 1), j ->
          (CAST(b[j] AS DOUBLE) - CAST(b[j - 1] AS DOUBLE)) != 0.0)) >= {tc}
),
ms AS (
  SELECT user_id, b, n,
         {fold("list_transform(b, v -> CAST(v AS DOUBLE))")} / n AS mraw
  FROM kept
),
stats AS (
  SELECT user_id, b, n,
         CAST({_bround3("mraw")} AS FLOAT) AS mean,
         CAST({_bround3(f"sqrt({var_fold} / n)")} AS FLOAT) AS sd
  FROM ms
),
scaled AS (
  SELECT user_id, b, n, mean, sd,
         list_transform(b, v ->
           CAST({_bround3("(CAST(v AS DOUBLE) - mean) / sd")} AS FLOAT)) AS s
  FROM stats
),
xp AS (
  SELECT user_id, b, n, mean, sd,
         list_transform(s[n - {n_min - 1} : n - {h}], v ->
           CAST({_bround3("CAST(v AS DOUBLE)")} AS FLOAT)) AS x
  FROM scaled
),
pr AS (
  SELECT user_id,
         b[n - {h - 1} : n] AS tr,
         list_transform(range(1, {h + 1}), _d ->
           CAST({_bround3(f"CAST(x[{x}] AS DOUBLE) * sd + mean")} AS FLOAT)) AS p
  FROM xp
),
m1 AS (
  SELECT user_id, tr, p,
         {fold("list_transform(tr, v -> CAST(v AS DOUBLE))")} / {h} AS mt7,
         {fold(f"list_transform(tr[1:{om}], v -> CAST(v AS DOUBLE))")} / {om} AS mt3
  FROM pr
),
r2s AS (
  SELECT user_id, tr, p,
         {fold(sq_err("tr", "p", h))} AS sse7,
         {fold(sq_dev("tr", "mt7"))} AS sst7,
         {fold(sq_err(f"tr[1:{om}]", f"p[1:{om}]", om))} AS sse3,
         {fold(sq_dev(f"tr[1:{om}]", "mt3"))} AS sst3
  FROM m1
),
ppms AS (
  SELECT user_id, tr, p,
         {ppm("sse7", "sst7")} AS ppm7,
         {ppm("sse3", "sst3")} AS ppm3
  FROM r2s
),
pairs AS (
  SELECT user_id,
         CAST(tr[dd] AS DOUBLE) AS a,
         CAST(p[dd] AS DOUBLE) AS f
  FROM ppms CROSS JOIN (SELECT unnest(range(1, {h + 1})) AS dd) hh
)
SELECT (SELECT CAST(SUM(ppm7) AS DOUBLE)
               / (CAST(COUNT(ppm7) AS DOUBLE) * 1000000.0e0)
        FROM ppms) AS r2_horizon,
       (SELECT CAST(SUM(ppm3) AS DOUBLE)
               / (CAST(COUNT(ppm3) AS DOUBLE) * 1000000.0e0)
        FROM ppms) AS r2_3day,
       (SELECT CAST(count(*) AS BIGINT) FROM ppms) AS n_series,
       {loss_cols}
FROM pairs
"""
    )


CASHFLOW_SCORING_SQL = _cashflow_scoring_sql()


def cashflow_wide_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry-facing scalar projection of cashflow_wide_pipeline:
    result canonicalizers hash scalar cells, so the forecast array is
    reduced to its endpoints (day-1, final-day) plus the horizon
    length. entry() still returns the full-array form."""
    wide = cashflow_wide_pipeline(spark, sf_dir)
    return wide.select(
        "user_id",
        "n_days",
        "keep_ts",
        "trajectory",
        F.element_at("forecast", 1).cast("double").alias("forecast_d1"),
        F.element_at("forecast", -1).cast("double").alias("forecast_last"),
        F.size("forecast").cast("bigint").alias("horizon_days"),
    )
