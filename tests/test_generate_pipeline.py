"""Generator determinism/distribution tests + pipeline e2e invariants."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.plans.preprocess import (
    clean_series,
    post_processing,
    pre_processing,
    r2_metrics,
    train_val_test_split,
)
from time_series_prediction_spark.sources.generate import generate_series_frame

END_DATE = "2020-03-31"


def test_generator_schema_and_determinism(spark):
    df1 = generate_series_frame(spark, 50, seed=42)
    df2 = generate_series_frame(spark, 50, seed=42)
    rows1 = df1.orderBy("primaryaccountholder").collect()
    rows2 = df2.orderBy("primaryaccountholder").collect()
    assert [r["balance"] for r in rows1] == [r["balance"] for r in rows2]
    assert [r["signal_type"] for r in rows1] == [r["signal_type"] for r in rows2]

    r = rows1[0]
    assert len(r["transactiondate"]) == 487
    assert len(r["balance"]) == 487
    assert r["signal_type"] in (1, 2, 3, 4)

    # different seed -> different series
    df3 = generate_series_frame(spark, 50, seed=7)
    rows3 = df3.orderBy("primaryaccountholder").collect()
    assert [r["balance"] for r in rows1] != [r["balance"] for r in rows3]


def test_generator_distribution(spark):
    df = generate_series_frame(spark, 400, seed=42)
    stats = df.select(
        F.expr("avg(abs(balance[0]))").alias("mag"),
        F.countDistinct("signal_type").alias("types"),
    ).first()
    # |balance| magnitude ~ salary scale (15000 ± 5000, plus seasonal)
    assert 3000 < stats["mag"] < 60000
    assert stats["types"] == 4
    # signal types roughly uniform
    counts = dict(
        df.groupBy("signal_type").count().rdd.map(lambda r: (r[0], r[1])).collect()
    )
    for t in (1, 2, 3, 4):
        assert counts.get(t, 0) > 400 / 4 / 3


def test_pipeline_e2e_train_mode(spark):
    raw = generate_series_frame(spark, 60, seed=42)
    cleaned = clean_series(raw, threshold_count=20)
    pre = pre_processing(cleaned, END_DATE, serving=False)
    rows = pre.limit(60).collect()
    assert len(rows) > 0
    for r in rows:
        assert len(r["balance_trend_1MW"]) == 487
        assert r["balance_detrend_1MW"] == r["balance"]  # as-shipped no-op
        assert len(r["X"]) == 365
        assert len(r["y"]) == 92
        assert len(r["transactiondate_next3months"]) == 92
        assert len(r["trend_next_3months_1MW"]) == 92
        # scaled series: mean~0, std~1
        scaled = np.asarray(r["balance_detrend_1MW_scaled"], dtype=float)
        assert abs(scaled.mean()) < 0.01
        assert abs(scaled.std() - 1) < 0.01


def test_pipeline_e2e_serving_and_scoring(spark):
    raw = generate_series_frame(spark, 40, seed=1)
    pre = pre_processing(clean_series(raw), END_DATE, serving=True)
    assert "y" not in pre.columns
    assert "trajectory_6months" in pre.columns

    # stub model: predict 0 everywhere (scaled space) -> rescaled == mean
    scored = pre.withColumn(
        "y_pred", F.expr("transform(sequence(1, 92), d -> CAST(0.0 AS FLOAT))")
    )
    post = post_processing(scored)
    r = post.first()
    assert len(r["y_pred_rescaled"]) == 92
    np.testing.assert_allclose(
        np.asarray(r["y_pred_rescaled"], dtype=float),
        np.full(92, r["mean"]),
        rtol=1e-5,
    )
    # as-shipped retrend no-op
    assert r["y_pred_rescaled_retrended"] == r["y_pred_rescaled"]


def test_split_and_r2(spark):
    raw = generate_series_frame(spark, 80, seed=3)
    pre = pre_processing(clean_series(raw), END_DATE, serving=False)
    train, val, test = train_val_test_split(pre)
    n = pre.count()
    nt, nv, ns = train.count(), val.count(), test.count()
    assert nt + nv + ns == n
    assert set(train.columns) == {"X", "y"}
    assert set(test.columns) == {"primaryaccountholder", "transactiondate", "balance"}

    # perfect predictions -> R2 == 1 on both horizons
    perfect = pre.withColumn(
        "y_pred_rescaled_retrended",
        F.expr("slice(balance, size(balance) - 91, 92)"),
    )
    m = r2_metrics(perfect).first()
    assert m["n_series"] == n
    assert abs(m["r2_3month"] - 1.0) < 1e-9
    assert abs(m["r2_1month"] - 1.0) < 1e-9

    # mean-prediction -> R2 ~ 0 or below
    mean_pred = pre.withColumn(
        "y_pred_rescaled_retrended",
        F.expr(
            "transform(sequence(1, 92), d -> "
            "aggregate(slice(balance, size(balance) - 91, 92), 0D, (a,v) -> a + v) / 92.0)"
        ),
    )
    m2 = r2_metrics(mean_pred).first()
    assert m2["r2_3month"] <= 1e-9


@pytest.mark.parametrize(
    "seed,n", [(42, 120), (7, 20)], ids=["seed42-n120", "seed7-n20"]
)
def test_generator_duckdb_bit_parity(spark, seed, n):
    """The md5-derived generator replays DRAW FOR DRAW in DuckDB
    (``duckdb_series_cte``): every float32 balance value is
    bit-identical across engines. The hash uniforms are exactly
    representable 52-bit integers; the transcendentals (exp/sin,
    Box-Muller ln/cos/sin) agree to ≤1 ulp between NumPy and DuckDB's
    libm and the terminal ``bround(·, 2)`` absorbs the difference —
    this test pins that the absorption holds on the real draw
    sequence (the foundation of cashflow_synthetic_pipeline's
    oracle). The date axis is 2018-12-01..2020-03-31, one day per
    element."""
    import duckdb

    from time_series_prediction_spark.sources.generate import (
        duckdb_series_cte,
    )

    n_days = 487
    sp = (
        generate_series_frame(spark, n, seed=seed)
        .selectExpr(
            "primaryaccountholder AS id",
            "transactiondate",
            "signal_type",
            "balance",
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    du = duckdb.connect().execute(
        "WITH "
        + duckdb_series_cte(n, n_days, seed=seed)
        + " SELECT id, signal_type, b FROM gen ORDER BY id"
    ).df()
    assert sp["id"].tolist() == du["id"].tolist() == list(range(n))
    assert (sp["signal_type"].values == du["signal_type"].values).all()
    d0 = dt.date(2018, 12, 1)
    axis = [d0 + dt.timedelta(days=k) for k in range(n_days)]
    assert axis[-1] == dt.date(2020, 3, 31)
    for i in range(n):
        assert list(sp["transactiondate"][i]) == axis, f"series {i}"
        a = np.asarray(sp["balance"][i], dtype=np.float32)
        b = np.asarray(du["b"][i], dtype=np.float32)
        assert len(a) == n_days and len(b) == n_days
        assert (a.view("int32") == b.view("int32")).all(), f"series {i}"
