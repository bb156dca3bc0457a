"""End-to-end pipeline stages mirroring the reference lifecycle.

* ``clean_series``     ≈ keep_ts flag + filter
                         (reference ``notebooks/training_new_petastorm.py:159-166``)
* ``pre_processing``   ≈ reference ``notebooks/utils.py:84-235``
* ``post_processing``  ≈ reference ``notebooks/utils.py:408-432``
* ``train_val_test_split`` ≈ reference ``training_new_petastorm.py:204-217``
* ``r2_metrics``       ≈ reference ``metric_extraction``
                         (``notebooks/utils.py:502-538``) — Spark-native,
                         no driver collect.

Unlike the reference — which materializes each stage to Delta and
re-reads (``notebooks/scoring.py:242-336``) because a 2.5M-row Python
UDF chain is fragile — these stages are pure DataFrame transforms: the
whole pre_processing chain is ONE narrow stage (no shuffle at all,
since every operator is per-row array math) with no checkpoint.
mean, std, the scaled series, X and y are NumPy kernels
(``operators/timeseries.py``): scalar Arrow UDFs that Spark evaluates
in ONE ``ArrowEvalPython`` node, together with the scorer's
``score(X)`` on the serve path. The trend family stays in the JVM;
Catalyst's optimizer keeps the expensive shared trend array in its own
projection, so the extrapolation and trajectory columns that both read
it do not evaluate it again. Both plan shapes are pinned by
tests/test_plan_quality.py.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_prediction_spark.operators import timeseries as ts


def clean_series(
    df: DataFrame,
    value_col: str = "balance",
    threshold_count: int = 20,
) -> DataFrame:
    """keep_ts flag + filter (R1).

    The reference filters on a UDF output so nothing can push down
    (``training_new_petastorm.py:161-163``); here the predicate is a
    native expression evaluated JVM-side in the same stage as the scan.
    """
    return df.withColumn("keep_ts", ts.keep_ts(value_col, threshold_count)).where(
        F.col("keep_ts") == 1
    )


def pre_processing(
    df: DataFrame,
    end_date: str,
    serving: bool = False,
    value_col: str = "balance",
    freq: int = 30,
    x_days: int = 365,
    y_days: int = 92,
    trend_window_days: int = 183,
) -> DataFrame:
    """The reference's 7-operator pre-processing chain.

    Adds: balance_trend_1MW, balance_detrend_1MW, mean, std,
    balance_detrend_1MW_scaled, X (and y unless serving),
    transactiondate_next3months, trend_next_3months_1MW, and
    trajectory_6months in serving mode."""
    end = dt.date.fromisoformat(end_date)
    nxt_start = end + dt.timedelta(days=1)
    nxt_end = end + dt.timedelta(days=y_days)

    # one projection per dependency layer: each withColumn call analyzes
    # the whole plan again
    out = df.withColumn("balance_trend_1MW", ts.trend(value_col, freq))
    out = out.withColumn(
        "balance_detrend_1MW", ts.detrend(value_col, "balance_trend_1MW")
    )
    out = out.withColumns({
        "mean": ts.series_mean("balance_detrend_1MW"),
        "std": ts.series_std("balance_detrend_1MW"),
        "balance_detrend_1MW_scaled": ts.scaling("balance_detrend_1MW"),
    })
    last = {"X": ts.get_x("balance_detrend_1MW_scaled", x_days, y_days)}
    if not serving:
        last["y"] = ts.get_y("balance_detrend_1MW_scaled", y_days)
    last["transactiondate_next3months"] = F.sequence(
        F.lit(str(nxt_start)).cast("date"),
        F.lit(str(nxt_end)).cast("date"),
        F.expr("interval 1 day"),
    )
    last["trend_next_3months_1MW"] = ts.extrapolate_trend(
        "balance_trend_1MW",
        window_days=trend_window_days,
        horizon_days=y_days,
        serving=serving,
    )
    if serving:
        last["trajectory_6months"] = ts.trajectory("balance_trend_1MW", 6)
    return out.withColumns(last)


def post_processing(
    df: DataFrame,
    pred_col: str = "y_pred",
) -> DataFrame:
    """Rescale predictions to the original scale, then retrend
    (as-shipped: retrend is a no-op — reference ``notebooks/utils.py:270``)."""
    return df.withColumn(
        "y_pred_rescaled", ts.rescaling(pred_col, "mean", "std")
    ).withColumn(
        "y_pred_rescaled_retrended",
        ts.retrend("y_pred_rescaled", "trend_next_3months_1MW"),
    )


def train_val_test_split(
    df: DataFrame,
    weights: tuple[float, float, float] = (0.6, 0.2, 0.2),
    seed: int = 12345,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """R2: reference randomSplit (``training_new_petastorm.py:204-217``).
    train/val carry (X, y); test carries the raw series for evaluation."""
    train, val, test = df.randomSplit(list(weights), seed=seed)
    return (
        train.select("X", "y"),
        val.select("X", "y"),
        test.select("primaryaccountholder", "transactiondate", "balance"),
    )


def r2_metrics(
    df: DataFrame,
    y_true_col: str = "balance",
    y_pred_col: str = "y_pred_rescaled_retrended",
    y_days: int = 92,
    one_month_days: int = 31,
    losses: tuple[str, ...] = (),
) -> DataFrame:
    """Spark-native R² — per-series R² over the prediction window,
    uniform-averaged, at 3 months (full horizon) and 1 month (first 31
    days). No ``toPandas`` — the reference collects every series to the
    driver (``notebooks/scoring.py:464-470``), which cannot work at
    2.5M × 92 values; this computes the same statistic distributed.

    Semantics note: the reference's ``metric_extraction`` transposes
    the matrix and then drops column 0 — which removes the first
    SERIES, not day 0, and its "1 month" slice takes the first 31
    SERIES (``notebooks/utils.py:518-536``). That is a bug in the
    reference (samples are days after the transpose); the engine
    implements the documented intent: per-series R² over days, with
    the 1-month variant = first 31 days.

    Returns one row: (r2_3month, r2_1month, n_series) plus, for every
    name in ``losses``, the registered distributed loss sum over the
    same (truth, prediction) window (operators/losses.py — the same
    registry the backtest sweeps), all computed in the ONE pass over
    the scored frame.

    Determinism (round 8): the per-series R² is quantized to integer
    parts-per-million BEFORE the cross-series average. Per-series R²
    is a sequential array fold — bit-deterministic — but a float AVG
    over series depends on reduction order, which varies with
    partitioning and differs across engines; integer ppm sums are
    exact and order-free, so the reported mean (sum_ppm / (n·10⁶)) is
    reproducible on any cluster AND value-hash-verifiable against the
    DuckDB oracle. Series whose truth window is constant (SST = 0,
    undefined R²) report NULL and are excluded from the mean — the
    reference's float path would silently propagate ±inf/NaN there
    (``notebooks/utils.py:502-538``).
    """
    truth = f"slice({y_true_col}, size({y_true_col}) - {y_days} + 1, {y_days})"

    def per_series_r2_ppm(n_days: int) -> str:
        t = f"slice({truth}, 1, {n_days})"
        p = f"slice({y_pred_col}, 1, {n_days})"
        mean_t = f"(aggregate({t}, 0D, (a, v) -> a + CAST(v AS DOUBLE)) / {n_days})"
        sse = (
            f"aggregate(zip_with({t}, {p}, (a, b) -> "
            f"(CAST(a AS DOUBLE) - CAST(b AS DOUBLE)) * (CAST(a AS DOUBLE) - CAST(b AS DOUBLE))), "
            f"0D, (a, v) -> a + v)"
        )
        sst = ts._let(
            mean_t, "_m",
            f"aggregate({t}, 0D, (a, v) -> a + (CAST(v AS DOUBLE) - _m) * (CAST(v AS DOUBLE) - _m))",
        )
        # floor(x + 0.5) instead of round(): identical text-portable
        # semantics in Spark SQL and DuckDB for all doubles (round()
        # differs between engines on negative halves). SST is bound
        # once: the CASE reads it twice, and an unbound fold would be
        # evaluated twice per window.
        return ts._let(
            sst, "_sst",
            f"CASE WHEN _sst = 0.0D THEN CAST(NULL AS BIGINT) "
            f"ELSE CAST(floor((1.0D - {sse} / _sst) * 1000000.0D + 0.5D) "
            f"AS BIGINT) END",
        )

    from time_series_prediction_spark.operators.losses import (
        LOSSES,
        series_loss_expr,
    )

    def ppm_mean(col: str) -> F.Column:
        return F.sum(col).cast("double") / (
            F.count(col).cast("double") * F.lit(1000000.0)
        )

    loss_names = [LOSSES[loss][0] for loss in losses]
    return df.select(
        F.expr(per_series_r2_ppm(y_days)).alias("_r2_3m_ppm"),
        F.expr(per_series_r2_ppm(one_month_days)).alias("_r2_1m_ppm"),
        *[
            F.expr(series_loss_expr(loss, truth, y_pred_col)).alias(name)
            for loss, name in zip(losses, loss_names)
        ],
    ).agg(
        ppm_mean("_r2_3m_ppm").alias("r2_3month"),
        ppm_mean("_r2_1m_ppm").alias("r2_1month"),
        F.count(F.lit(1)).alias("n_series"),
        *[F.sum(name).cast("long").alias(name) for name in loss_names],
    )
