"""Exact-accumulator correlation matrix: oracle parity, agreement
with Spark's built-in corr, and range sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_matches_oracle, duck_connection
from time_series_prediction_spark.plans.stats_queries import (
    LINEITEM_CORR_SQL,
    lineitem_correlation_matrix,
)
from time_series_prediction_spark.sources.io import read_table


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_correlation_matches_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        lineitem_correlation_matrix(spark, sf_dir),
        duck,
        LINEITEM_CORR_SQL,
        name="lineitem_correlation_matrix",
    )


def test_correlation_agrees_with_builtin(spark, sf_dir):
    """The exact-integer route must agree with Spark's streaming
    co-moment corr to float tolerance (they differ only in
    accumulation order)."""
    got = {
        r["pair"]: r["corr"]
        for r in lineitem_correlation_matrix(spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem").selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_pct",
        "CAST(round(l_tax * 100) AS BIGINT) AS tax_pct",
    )
    for pair, r in got.items():
        a, b = pair.split("~")
        want = li.agg(F.corr(a, b)).first()[0]
        assert abs(r - want) < 1e-9, (pair, r, want)
        assert -1.0 <= r <= 1.0


def test_correlation_exact_with_signed_measures(spark, tmp_path):
    """The three int64 limbs (p & m21, (p >> 21) & m21, p >> 42)
    reconstruct NEGATIVE per-row products exactly too: ``>>`` is an
    arithmetic shift (floor division), so the top limb carries the
    sign. A lineitem with negative quantities, prices, discounts and
    taxes must equal the DuckDB DECIMAL(38,0) oracle bit for bit."""
    import duckdb
    import numpy as np
    import pandas as pd

    from time_series_prediction_spark.plans.stats_queries import _oracle_sql

    rng = np.random.default_rng(5)
    n = 400
    pdf = pd.DataFrame(
        {
            "l_quantity": rng.integers(-60, 60, n)
            + rng.choice([0.0, 0.25, 0.3, 0.75], n),
            # |price_cents| up to 5e8: squares pass 2^42, so the top
            # limb is non-zero, and negative for the signed products
            "l_extendedprice": np.round(rng.uniform(-5e6, 5e6, n), 3),
            "l_discount": np.round(rng.uniform(-0.1, 0.1, n), 4),
            "l_tax": np.round(rng.uniform(-0.08, 0.08, n), 4),
        }
    )
    # Spark's round and DuckDB's differ on negative exact halves: keep
    # every scaled value away from .5
    for c, k in [("l_quantity", 1), ("l_extendedprice", 100),
                 ("l_discount", 100), ("l_tax", 100)]:
        frac = np.abs(pdf[c].to_numpy() * k) % 1.0
        pdf = pdf[np.abs(frac - 0.5) > 1e-6]
    assert len(pdf) > 300
    assert (pdf < 0).any().all()
    pdf.to_parquet(tmp_path / "lineitem.parquet", index=False)

    got = {
        r["pair"]: (r["n"], r["corr"])
        for r in lineitem_correlation_matrix(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{tmp_path}/lineitem.parquet'"
    )
    want = {
        pair: (n_rows, corr)
        for pair, n_rows, corr in con.execute(_oracle_sql()).fetchall()
    }
    con.close()
    assert got == want


def test_seasonality_matches_oracle(spark, sf_dir, duck):
    from time_series_prediction_spark.plans.stats_queries import (
        TS_SEASONALITY_SQL,
        ts_seasonality_detect,
    )

    assert_matches_oracle(
        ts_seasonality_detect(spark, sf_dir),
        duck,
        TS_SEASONALITY_SQL,
        name="ts_seasonality_detect",
    )


def test_seasonality_strength_in_unit_interval(spark, sf_dir):
    from time_series_prediction_spark.plans.stats_queries import (
        _PERIODS,
        ts_seasonality_detect,
    )

    rows = ts_seasonality_detect(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["strength"] <= 1.0 + 1e-12, r
        assert r["best_period"] in _PERIODS


def test_seasonality_recovers_planted_period(spark, tmp_path):
    """A pure period-3 square wave must be detected as period 3 with
    strength ~1; white noise from a seeded LCG must stay weak."""
    import datetime

    from time_series_prediction_spark.plans.stats_queries import (
        ts_seasonality_detect,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    state = 11
    for d in range(30):
        ts = base + datetime.timedelta(days=d)
        # user 1: value depends only on (day % 3)
        rows.append((d * 2, ts, 1, "view", float(10 + 40 * (d % 3)), "{}"))
        # user 2: seeded LCG noise
        state = (1103515245 * state + 12345) % (2**31)
        rows.append((d * 2 + 1, ts, 2, "view", float(state % 97), "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: r
        for r in ts_seasonality_detect(spark, str(tmp_path)).collect()
    }
    assert got[1]["best_period"] == 3
    assert got[1]["strength"] > 0.999
    assert got[2]["strength"] < 0.5


def test_join_cardinality_estimate_within_sampling_error(spark, sf_dir):
    from time_series_prediction_spark.plans.stats_queries import (
        JOIN_CARD_SQL,
        join_cardinality_estimate,
    )

    assert_matches_oracle(
        join_cardinality_estimate(spark, sf_dir),
        duck_connection(sf_dir),
        JOIN_CARD_SQL,
        name="join_cardinality_estimate",
    )
    r = join_cardinality_estimate(spark, sf_dir).first()
    assert r["exact_pairs"] > 0
    # 1/16 key sample over thousands of keys: generous 35% band
    assert abs(r["rel_err"]) < 0.35, r


def test_ab_experiment_matches_independent_python(spark, sf_dir):
    """Recompute the whole experiment independently (hashlib md5
    assignment + textbook pooled two-proportion z in plain Python) and
    check every output cell; both arms must be non-degenerate."""
    import hashlib
    import math

    from time_series_prediction_spark.plans.stats_queries import (
        _AB_SEED,
        events_ab_experiment,
    )
    from time_series_prediction_spark.sources.io import read_table

    row = events_ab_experiment(spark, sf_dir).first()
    per_user: dict[int, int] = {}
    for r in (
        read_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "value")
        .collect()
    ):
        conv = (
            1
            if r["event_type"] == "purchase" and r["value"] > 150
            else 0
        )
        per_user[r["user_id"]] = max(per_user.get(r["user_id"], 0), conv)
    n = {"C": 0, "T": 0}
    conv = {"C": 0, "T": 0}
    for uid, c in per_user.items():
        h = hashlib.md5(f"{uid}:{_AB_SEED}".encode()).hexdigest()
        arm = "T" if h[0] < "8" else "C"
        n[arm] += 1
        conv[arm] += c
    assert (row["n_c"], row["n_t"]) == (n["C"], n["T"])
    assert (row["conv_c"], row["conv_t"]) == (conv["C"], conv["T"])
    assert n["C"] > 0 and n["T"] > 0
    p_c, p_t = conv["C"] / n["C"], conv["T"] / n["T"]
    pp = (conv["C"] + conv["T"]) / (n["C"] + n["T"])
    z = (p_t - p_c) / math.sqrt(
        pp * (1 - pp) * (1 / n["T"] + 1 / n["C"])
    )
    assert abs(row["rate_c"] - p_c) < 1e-12
    assert abs(row["rate_t"] - p_t) < 1e-12
    assert abs(row["z_score"] - z) < 1e-9
    # the 50/50 hash split really splits (no degenerate arm)
    total = n["C"] + n["T"]
    assert 0.3 < n["T"] / total < 0.7
