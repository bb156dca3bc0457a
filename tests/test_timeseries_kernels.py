"""Bit parity of the NumPy kernels with the Spark SQL they replaced.

``series_mean``, ``series_std``, ``scaling``, ``get_x`` and ``get_y``
run as NumPy inside scalar Arrow UDFs. Before, each was a JVM array
expression; those expressions are kept below, test-local, as the
oracle. The kernels do the same operations in the same order, so every
output is compared bit for bit: nulls, NaN, -0.0 and ragged lengths
included. ``bround_half_even`` is checked against Spark's own
``bround``: JDK 17's ``Double.toString`` is not always the shortest
repr, so Python's ``Decimal`` is not the oracle.
"""

from __future__ import annotations

import math
import struct
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from tests.test_timeseries_ops import N_DAYS, _make_series
from time_series_prediction_spark.operators import timeseries as ts
from time_series_prediction_spark.sources.generate import generate_series_frame

# --- the JVM expressions the kernels replaced -------------------------------


def _sum(arr: str) -> str:
    return f"aggregate({arr}, 0D, (a, v) -> a + CAST(v AS DOUBLE))"


def _let(value: str, name: str, body: str) -> str:
    return f"transform(array({value}), {name} -> {body})[0]"


def _sql_mean(x: str) -> str:
    return f"CAST(bround({_sum(x)} / size({x}), 3) AS FLOAT)"


def _sql_std(x: str) -> str:
    var = _let(
        f"({_sum(x)} / size({x}))",
        "_m",
        f"aggregate({x}, 0D, (a, v) -> a + (CAST(v AS DOUBLE) - _m) "
        f"* (CAST(v AS DOUBLE) - _m)) / size({x})",
    )
    return f"CAST(bround(sqrt({var}), 3) AS FLOAT)"


def _sql_scaling(x: str, mean: str, std: str) -> str:
    return _let(mean, "_mean", _let(std, "_std", (
        f"transform({x}, v -> CAST(bround((CAST(v AS DOUBLE) - _mean)"
        f" / _std, 3) AS FLOAT))"
    )))


def _sql_window(x: str, n: int, what: str, start: str, width: int) -> str:
    return (
        f"CASE WHEN size({x}) < {n} THEN raise_error(concat("
        f"'{what} needs a series of at least {n} elements, got ', "
        f"CAST(size({x}) AS STRING))) ELSE "
        f"transform(slice({x}, {start}, {width}), "
        f"v -> CAST(bround(CAST(v AS DOUBLE), 3) AS FLOAT)) END"
    )


def _sql_get_x(x: str, x_days: int, y_days: int) -> str:
    n = x_days + y_days
    return _sql_window(x, n, f"get_x (x_days {x_days} + y_days {y_days})",
                       f"size({x}) - {n} + 1", x_days)


def _sql_get_y(x: str, y_days: int) -> str:
    return _sql_window(x, y_days, f"get_y (y_days {y_days})",
                       f"size({x}) - {y_days} + 1", y_days)


# --- helpers -----------------------------------------------------------------

_COLS = ["mean", "std", "scaled", "X", "y"]


def _jvm(df, x_days=365, y_days=92, windows=True):
    out = (
        df.withColumn("mean", F.expr(_sql_mean("balance")))
        .withColumn("std", F.expr(_sql_std("balance")))
        .withColumn("scaled", F.expr(_sql_scaling("balance", "mean", "std")))
    )
    if windows:
        out = out.withColumn(
            "X", F.expr(_sql_get_x("scaled", x_days, y_days))
        ).withColumn("y", F.expr(_sql_get_y("scaled", y_days)))
    return out


def _kernels(df, x_days=365, y_days=92, windows=True):
    out = (
        df.withColumn("mean", ts.series_mean("balance"))
        .withColumn("std", ts.series_std("balance"))
        .withColumn("scaled", ts.scaling("balance"))
    )
    if windows:
        out = out.withColumn(
            "X", ts.get_x("scaled", x_days, y_days)
        ).withColumn("y", ts.get_y("scaled", y_days))
    return out


def _bits(v):
    """A value's exact identity: NaN is one value, -0.0 is not +0.0."""
    if v is None:
        return None
    if isinstance(v, list):
        return tuple(_bits(e) for e in v)
    return "nan" if math.isnan(v) else struct.pack(">d", v)


def _assert_bitwise(got_df, want_df, cols):
    got = got_df.orderBy("id").select(cols).collect()
    want = want_df.orderBy("id").select(cols).collect()
    assert len(got) == len(want)
    for c in cols:
        bad = [i for i, (g, w) in enumerate(zip(got, want)) if _bits(g[c]) != _bits(w[c])]
        assert not bad, f"{c}: {len(bad)} rows differ, first {bad[:5]}"


def _frame(spark, rows):
    return spark.createDataFrame(rows, "id long, balance array<float>")


# --- bit parity --------------------------------------------------------------


def test_kernels_match_jvm_on_fixture_series(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(np.float32(v)) for v in _make_series(rng, i % 4)])
        for i in range(12)
    ]
    df = _frame(spark, rows)
    _assert_bitwise(_kernels(df), _jvm(df), _COLS)


def test_kernels_match_jvm_on_generated_series(spark):
    df = generate_series_frame(spark, 200, seed=3).select(
        F.col("primaryaccountholder").alias("id"), "balance"
    ).cache()
    _assert_bitwise(_kernels(df), _jvm(df), _COLS)
    df.unpersist()


def test_kernels_match_jvm_on_ragged_series(spark):
    """Rows of 21-30 days in one batch, as the flagship scoring query
    feeds them, with its 14/7-day windows."""
    rng = np.random.default_rng(11)
    rows = [
        (i, [float(np.float32(v)) for v in rng.normal(100.0, 30.0, n).round(2)])
        for i, n in enumerate(rng.integers(21, 31, 40))
    ]
    df = _frame(spark, rows).coalesce(1)
    _assert_bitwise(_kernels(df, 14, 7), _jvm(df, 14, 7), _COLS)


def test_kernels_match_jvm_on_nulls_and_edge_values(spark):
    """A null element nulls the mean, std and every scaled element; a
    zero std nulls the scaled elements; NaN and ±Inf propagate; an
    empty series has a null mean and std. Same as the JVM."""
    n = N_DAYS
    inf = float("inf")
    rows = [
        (0, [1.5, None, 3.25] * 170),
        (1, [2.0, float("nan")] * 250),
        (2, [1234.56] * n),
        (3, [inf] + [1.0] * (n - 1)),
        (4, [-inf, inf] + [0.5] * (n - 2)),
        (5, [-0.0] * n),
        (6, [float(v % 7) - 3.0 for v in range(n)]),
    ]
    df = _frame(spark, rows + [(7, []), (8, [5.0, None])]).coalesce(1)
    _assert_bitwise(_kernels(df, windows=False), _jvm(df, windows=False),
                    ["mean", "std", "scaled"])
    df = _frame(spark, rows).coalesce(1)
    _assert_bitwise(_kernels(df), _jvm(df), _COLS)


def test_kernels_null_series_match_jvm(spark):
    """A null series: null mean, std and scaled series; X and y fail
    the job, counting its size as -1 like Spark's ``size``."""
    df = _frame(spark, [(0, None), (1, [1.0, 2.0, 4.0] * 200)]).coalesce(1)
    cols = ["mean", "std", "scaled"]
    _assert_bitwise(_kernels(df, windows=False), _jvm(df, windows=False), cols)
    for build in (_kernels, _jvm):
        out = build(df)
        with pytest.raises(Exception, match="at least 457 elements, got -1"):
            out.select("X").collect()
        with pytest.raises(Exception, match="at least 92 elements, got -1"):
            out.select("y").collect()


# --- bround_half_even against Spark's bround ---------------------------------


def _crafted(ndigits: int) -> np.ndarray:
    rng = np.random.default_rng(ndigits)
    scale = 10.0 ** ndigits
    ties = (rng.integers(-10**7, 10**7, 400) + 0.5) / scale
    exact_ties = np.array([0.125, 0.375, -0.625, 2.5, -2.5, 1.0625, 0.0625])
    mags = rng.uniform(-1.0, 1.0, 400) * 10.0 ** rng.integers(-8, 17, 400)
    special = np.array([
        0.0, -0.0, np.nan, np.inf, -np.inf, -0.004, -0.0004, -0.005,
        0.005, -0.0005, 0.0005, 5e-324, -5e-324, 1e300, -1e300,
        1.7976931348623157e308, 2.0 ** 53 + 2.0, 0.1 + 0.2, 1e22, 1e23,
    ])
    return np.concatenate([
        ties, np.nextafter(ties, np.inf), np.nextafter(ties, -np.inf),
        exact_ties, exact_ties / scale, mags, special,
    ])


@pytest.mark.parametrize("ndigits", [2, 3])
def test_bround_half_even_matches_spark(spark, ndigits):
    vals = _crafted(ndigits)
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)], "id long, v double")
    want = [r["b"] for r in df.orderBy("id").select(
        F.expr(f"bround(v, {ndigits})").alias("b")
    ).collect()]
    got = ts.bround_half_even(vals, ndigits)
    bad = [
        (vals[i], got[i], w) for i, w in enumerate(want)
        if _bits(float(got[i])) != _bits(w)
    ]
    assert not bad, f"{len(bad)} differ, first {bad[:5]}"


def test_pre_processing_reuses_the_window_udfs(spark, monkeypatch):
    """Building the plan twice reuses one X UDF object: a UDF pickles its
    function on first use, and a new one per call would pay that on
    every build."""
    from time_series_prediction_spark.plans.preprocess import pre_processing

    made = []
    build = ts._get_x_udf

    def spy(*args):
        made.append(build(*args))
        return made[-1]

    monkeypatch.setattr(ts, "_get_x_udf", spy)
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(N_DAYS)])], "id long, balance array<float>"
    )
    for _ in range(2):
        pre_processing(df, "2020-03-31", serving=False, freq=30)
    assert len(made) == 2
    assert made[0] is made[1]


def test_reused_worker_runs_the_zip_invalidate_patch(spark):
    """Every Python task starts with ``importlib.invalidate_caches()``.
    Once a worker has imported the package, that call goes through
    ``session.py``'s zipimporter patch (on CPython before 3.12), which
    then knows every zip archive the worker imports from."""

    @arrow_udf("string")
    def probe(x: pa.Array) -> pa.Array:
        import os
        import sys
        import zipimport

        import time_series_prediction_spark.session as session

        if sys.version_info >= (3, 12):
            report = f"{os.getpid()}|True|"
        else:
            active = zipimport.zipimporter.invalidate_caches is session._invalidate_zip_if_changed
            zips = {
                v.archive for v in sys.path_importer_cache.values()
                if isinstance(v, zipimport.zipimporter)
            }
            report = f"{os.getpid()}|{active}|{zips <= set(session._ZIP_DIRECTORIES)}"
        return pa.array([report] * len(x))

    pids = set()
    for _ in range(8):
        pid, active, recorded = (
            spark.range(1, numPartitions=1).select(probe("id")).first()[0].split("|")
        )
        assert active == "True"
        if pid in pids:  # a reused worker: its task set-up ran the patch
            if sys.version_info < (3, 12):
                assert recorded == "True"
            return
        pids.add(pid)
    pytest.fail(f"no Python worker was reused across 8 jobs: {sorted(pids)}")
