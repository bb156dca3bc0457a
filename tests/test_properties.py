"""Property-based tests (hypothesis) for the array-expression operators.

Each example round-trips one generated series through the Spark
expression and checks an invariant or the numpy oracle. max_examples
kept small: every example is a Spark job.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

from tests.oracle import numpy_reference as ref
from time_series_prediction_spark.operators import timeseries as ts

SERIES = st.lists(
    st.floats(
        min_value=-1e5, max_value=1e5, allow_nan=False, allow_infinity=False
    ),
    min_size=40,
    max_size=120,
)

SCHEMA = StructType([StructField("balance", ArrayType(FloatType()))])


def _one_row(spark, xs):
    return spark.createDataFrame([([float(np.float32(v)) for v in xs],)], SCHEMA)


@settings(max_examples=12, deadline=None)
@given(SERIES)
def test_scaling_rescaling_identity(spark, xs):
    df = (
        _one_row(spark, xs)
        .withColumn("m", ts.series_mean("balance"))
        .withColumn("s", ts.series_std("balance"))
        .withColumn("scaled", ts.scaling("balance"))
        .withColumn("back", ts.rescaling("scaled", "m", "s"))
    )
    r = df.first()
    if r["s"] == 0:
        return
    orig = np.asarray(r["balance"], dtype=float)
    back = np.asarray(r["back"], dtype=float)
    # two roundings (scale then rescale) plus float32: tolerance scales
    # with sigma and magnitude
    tol = abs(r["s"]) * 1.2e-3 + np.abs(orig) * 3e-7 + 2e-2
    assert np.all(np.abs(orig - back) <= tol)


@settings(max_examples=12, deadline=None)
@given(SERIES)
def test_gradient_matches_numpy(spark, xs):
    df = _one_row(spark, xs).withColumn("g", ts.gradient("balance"))
    got = np.asarray(df.first()["g"], dtype=float)
    want = ref.ref_gradient(np.asarray(xs, dtype=np.float32).astype(float))
    np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)


@settings(max_examples=12, deadline=None)
@given(SERIES, st.integers(min_value=1, max_value=60))
def test_keep_ts_matches_numpy_and_monotone(spark, xs, threshold):
    df = (
        _one_row(spark, xs)
        .withColumn("k", ts.keep_ts("balance", threshold))
        .withColumn("k2", ts.keep_ts("balance", threshold + 5))
    )
    r = df.first()
    want = ref.ref_keep_ts(np.asarray(xs, dtype=np.float32).astype(float), threshold)
    assert r["k"] == want
    assert r["k"] >= r["k2"]  # higher threshold can only drop more


@settings(max_examples=8, deadline=None)
@given(
    st.floats(min_value=-100, max_value=100, allow_nan=False),
    st.floats(min_value=-5, max_value=5, allow_nan=False),
)
def test_gradient_of_linear_series_is_constant_slope(spark, intercept, slope):
    xs = [intercept + slope * i for i in range(50)]
    df = _one_row(spark, xs).withColumn("g", ts.gradient("balance"))
    g = np.asarray(df.first()["g"], dtype=float)
    # float32 storage quantizes the inputs; slope error is bounded by ulp
    ulp = 2 ** -23 * (abs(intercept) + abs(slope) * 50 + 1)
    assert np.all(np.abs(g - slope) <= 2 * ulp + 1e-6)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e4, max_value=1e4, allow_nan=False),
        min_size=2,
        max_size=60,
    ),
)
def test_holt_fold_matches_numpy(spark, xs):
    """The Holt aggregate() fold (now also the DuckDB-oracle recursive
    CTE) must equal the straightforward numpy recurrence to float
    noise, for any series."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    a, b = 0.5, 0.3
    schema = StructType([StructField("xs", ArrayType(DoubleType()))])
    df = spark.createDataFrame([([float(v) for v in xs],)], schema)
    fold = (
        f"aggregate(slice(xs, 3, size(xs) - 2), "
        f"named_struct('l', CAST({a} * xs[1] + {1-a} * (xs[0] + (xs[1] - xs[0])) AS DOUBLE), "
        f"             'b', CAST({b} * ({a} * xs[1] + {1-a} * (xs[0] + (xs[1] - xs[0])) - xs[0]) + {1-b} * (xs[1] - xs[0]) AS DOUBLE)), "
        f"(acc, x) -> named_struct("
        f"'l', {a} * x + {1-a} * (acc.l + acc.b), "
        f"'b', {b} * (({a} * x + {1-a} * (acc.l + acc.b)) - acc.l) + {1-b} * acc.b))"
    )
    r = df.select(
        F.expr(f"{fold}.l").alias("l"), F.expr(f"{fold}.b").alias("b")
    ).first()
    lv, bv = xs[0], xs[1] - xs[0]
    for x in xs[1:]:
        nl = a * x + (1 - a) * (lv + bv)
        bv = b * (nl - lv) + (1 - b) * bv
        lv = nl
    assert r["l"] == pytest.approx(lv, rel=1e-12, abs=1e-9)
    assert r["b"] == pytest.approx(bv, rel=1e-12, abs=1e-9)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.floats(min_value=-1e4, max_value=1e4, allow_nan=False), min_size=1, max_size=50))
def test_nanmedian_fragment_matches_numpy(spark, xs):
    from pyspark.sql import functions as F

    df = _one_row(spark, xs).select(
        F.expr(ts._nanmedian("balance")).alias("med")
    )
    got = df.first()["med"]
    want = float(np.median(np.asarray(xs, dtype=np.float32).astype(float)))
    assert got == pytest.approx(want, abs=1e-9)


# ---------------------------------------------------------------------------
# quality-audit + profile properties (r6): the one-pass aggregates must
# agree with a plain pandas computation on arbitrary data
# ---------------------------------------------------------------------------

ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
        st.one_of(
            st.none(),
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
        ),
    ),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None)
@given(ROWS)
def test_audit_counts_match_pandas(spark, rows):
    from time_series_prediction_spark.operators.quality_checks import (
        audit_columns,
        in_range,
        not_null,
    )

    df = spark.createDataFrame(rows, "k int, v double")
    rep = {
        r.check_name: (r.n_checked, r.n_violations)
        for r in audit_columns(
            df,
            [not_null("k"), in_range("v", lo=-10.0, hi=10.0)],
            unique_cols=["k"],
        ).collect()
    }
    n = len(rows)
    n_null_k = sum(1 for k, _ in rows if k is None)
    n_bad_v = sum(1 for _, v in rows if v is not None and (v < -10 or v > 10))
    ks = [k for k, _ in rows if k is not None]
    n_dup = len(ks) - len(set(ks))
    assert rep["k_not_null"] == (n, n_null_k)
    assert rep["v_in_range"] == (n, n_bad_v)
    assert rep["k_unique"] == (n, n_dup)


@settings(max_examples=10, deadline=None)
@given(ROWS)
def test_profile_stats_match_pandas(spark, rows):
    from time_series_prediction_spark.operators.profile import profile_columns

    df = spark.createDataFrame(rows, "k int, v double")
    prof = {
        r.column: r
        for r in profile_columns(df, numeric_cols=["k", "v"]).collect()
    }
    for col, idx in (("k", 0), ("v", 1)):
        vals = [r[idx] for r in rows]
        present = [x for x in vals if x is not None]
        p = prof[col]
        assert p.n == len(rows)
        assert p.n_null == len(vals) - len(present)
        assert p.n_distinct == len(set(present))
        if present:
            assert p.min_d == float(min(present))
            assert p.max_d == float(max(present))
        else:
            assert p.min_d is None and p.max_d is None
