"""Golden tests: Spark-native W1-W11 operators vs vendored NumPy oracles.

Fixture series are deterministic (seeded numpy), 487 days like the
reference's, plus edge cases: constant series, low-change series.
Comparisons allow atol=1.5e-3 — engine and oracle may disagree on
round-half boundaries at the 3rd decimal (different accumulation
orders / lstsq vs closed form), which flips a value by exactly 1e-3.
Exact-match fractions are asserted high to catch systematic drift.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

from tests.oracle import numpy_reference as ref
from time_series_prediction_spark.operators import timeseries as ts

N_DAYS = 487
N_SERIES = 24


def _make_series(rng: np.random.Generator, kind: int) -> np.ndarray:
    t = np.arange(N_DAYS, dtype=float)
    base = 15000 * np.exp(t / N_DAYS * rng.uniform(0.5, 1.5))
    season = 3000 * np.sin(2 * np.pi * t / 30.5 + rng.uniform(0, 2 * np.pi))
    noise = rng.normal(0, 500, N_DAYS)
    if kind == 0:
        x = base + season + noise
    elif kind == 1:
        x = base - 2 * season + noise * 3
    elif kind == 2:  # constant series (keep_ts must drop)
        x = np.full(N_DAYS, 1234.56)
    else:  # step series with few changes
        x = np.repeat(rng.normal(1000, 100, 10), N_DAYS // 10 + 1)[:N_DAYS]
    return np.around(x, 2)


@pytest.fixture(scope="module")
def series():
    rng = np.random.default_rng(7)
    return [
        _make_series(rng, kind)
        for kind in list(range(4)) * (N_SERIES // 4)
    ]


@pytest.fixture(scope="module")
def sdf(spark, series):
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("balance", ArrayType(FloatType())),
        ]
    )
    rows = [(i, [float(np.float32(v)) for v in s]) for i, s in enumerate(series)]
    return spark.createDataFrame(rows, schema).cache()


def _collect(df, col):
    return [r[col] for r in df.orderBy("id").select(col).collect()]


def _f32(series):
    # the Spark DF stores float32; oracle inputs must see the same values
    return [np.asarray(s, dtype=np.float32).astype(float) for s in series]


def assert_arrays_close(got, want, what, atol=1.5e-3, min_exact=0.98):
    # rtol=3e-7 covers float32 quantization (a 1e-3 rounding flip at
    # magnitude 1e5 shows up as the float32 ulp ~8e-3); atol covers the
    # flip itself at small magnitudes.
    got = np.asarray(got, dtype=float)
    want = np.asarray(want, dtype=float)
    assert got.shape == want.shape, f"{what}: shape {got.shape} vs {want.shape}"
    ok = np.isclose(got, want, rtol=3e-7, atol=atol) | (
        np.isnan(got) & np.isnan(want)
    )
    assert ok.all(), (
        f"{what}: {np.count_nonzero(~ok)} values beyond atol; "
        f"first bad: got={got[~ok][:5]} want={want[~ok][:5]}"
    )
    exact = np.mean((got == want) | (np.isnan(got) & np.isnan(want)))
    assert exact >= min_exact, f"{what}: only {exact:.1%} exact matches"


def test_trend_matches_statsmodels_semantics(sdf, series):
    got = _collect(sdf.withColumn("t", ts.trend("balance")), "t")
    want = [ref.ref_trend(s) for s in _f32(series)]
    for i, (g, w) in enumerate(zip(got, want)):
        assert_arrays_close(g, w, f"trend[{i}]")


def test_trend_odd_freq(sdf, series):
    got = _collect(sdf.withColumn("t", ts.trend("balance", freq=7)), "t")
    want = [ref.ref_trend(s, freq=7) for s in _f32(series)]
    for i, (g, w) in enumerate(zip(got, want)):
        assert_arrays_close(g, w, f"trend7[{i}]")


def test_mean_std(sdf, series):
    df = sdf.withColumn("m", ts.series_mean("balance")).withColumn(
        "s", ts.series_std("balance")
    )
    got_m, got_s = _collect(df, "m"), _collect(df, "s")
    want_m = [ref.ref_mean(s) for s in _f32(series)]
    want_s = [ref.ref_std(s) for s in _f32(series)]
    assert_arrays_close(got_m, want_m, "mean")
    assert_arrays_close(got_s, want_s, "std")


def test_scaling_rescaling_roundtrip(sdf, series):
    df = (
        sdf.withColumn("m", ts.series_mean("balance"))
        .withColumn("s", ts.series_std("balance"))
        .withColumn("scaled", ts.scaling("balance"))
        .withColumn("back", ts.rescaling("scaled", "m", "s"))
    )
    rows = df.orderBy("id").select("m", "s", "scaled", "back", "balance").collect()
    fs = _f32(series)
    for i, r in enumerate(rows):
        if np.float32(r["s"]) == 0:  # constant series: division by zero
            continue
        want = ref.ref_scaling(fs[i], r["m"], r["s"])
        assert_arrays_close(r["scaled"], want, f"scaling[{i}]")
        # roundtrip: rescale(scale(x)) ~ x to rounding
        assert_arrays_close(
            r["back"], np.asarray(r["balance"]), f"roundtrip[{i}]",
            atol=abs(r["s"]) * 1.2e-3 + 1e-2, min_exact=0.0,
        )


def test_scaling_degenerate_constant_series(sdf):
    # constant series: std=0 -> Spark's division by zero is null, so
    # every scaled element is null, not a crash
    df = (
        sdf.where(F.col("id") == 2)
        .withColumn("s", ts.series_std("balance"))
        .withColumn("scaled", ts.scaling("balance"))
    )
    row = df.first()
    assert row["s"] == 0.0
    assert len(row["scaled"]) == N_DAYS
    assert all(v is None for v in row["scaled"])


def test_get_x_get_y(sdf, series):
    df = sdf.withColumn("X", ts.get_x("balance")).withColumn(
        "y", ts.get_y("balance")
    )
    rows = df.orderBy("id").select("X", "y").collect()
    fs = _f32(series)
    for i, r in enumerate(rows):
        assert len(r["X"]) == 365 and len(r["y"]) == 92
        assert_arrays_close(r["X"], ref.ref_get_x(fs[i]), f"X[{i}]")
        assert_arrays_close(r["y"], ref.ref_get_y(fs[i]), f"y[{i}]")


def test_get_x_y_reject_short_series(spark):
    """A negative slice start counts from the end, so without the
    length guard a 400-day series gets an X inside y's window and a
    456-day one an opaque START error. Series shorter than the window
    fail the job with a message naming the length; 457+ keep 365/92."""
    def frame(n):
        return spark.createDataFrame(
            [(n, [float(i) for i in range(n)])], "id long, balance array<float>"
        )

    for n in (400, 456):
        with pytest.raises(Exception, match=f"at least 457 elements, got {n}"):
            frame(n).select(ts.get_x("balance")).collect()
        assert len(frame(n).select(ts.get_y("balance").alias("y")).first()["y"]) == 92
    with pytest.raises(Exception, match="at least 92 elements, got 50"):
        frame(50).select(ts.get_y("balance")).collect()
    for n in (457, 500):
        r = frame(n).select(
            ts.get_x("balance").alias("X"), ts.get_y("balance").alias("y")
        ).first()
        assert r["X"] == [float(v) for v in range(n - 457, n - 92)]
        assert r["y"] == [float(v) for v in range(n - 92, n)]


def test_gradient(sdf, series):
    got = _collect(sdf.withColumn("g", ts.gradient("balance")), "g")
    want = [ref.ref_gradient(s) for s in _f32(series)]
    for i, (g, w) in enumerate(zip(got, want)):
        assert_arrays_close(g, w, f"gradient[{i}]", atol=1e-9, min_exact=0.999)


@pytest.mark.parametrize("serving", [False, True])
def test_extrapolate_trend(sdf, series, serving):
    df = sdf.withColumn("t", ts.trend("balance")).withColumn(
        "e", ts.extrapolate_trend("t", serving=serving)
    )
    rows = df.orderBy("id").select("t", "e").collect()
    for i, r in enumerate(rows):
        want = ref.ref_extrapolate_trend(
            np.asarray(r["t"], dtype=np.float32).astype(float),
            serving=serving,
        )
        assert len(r["e"]) == 92
        assert_arrays_close(r["e"], want, f"extrap[{i},{serving}]")
        # extrapolation is an arithmetic sequence (constant diff to
        # rounding + float32 quantization of the stored values)
        vals = np.asarray(r["e"], dtype=float)
        diffs = np.diff(vals)
        f32_ulp = 2 ** -23 * max(np.max(np.abs(vals)), 1.0) * 2
        assert np.ptp(diffs) <= 2.1e-3 + 2 * f32_ulp, f"extrap[{i}] not arithmetic"


def test_trajectory(sdf, series):
    df = sdf.withColumn("t", ts.trend("balance")).withColumn(
        "traj", ts.trajectory("t")
    )
    rows = df.orderBy("id").select("t", "traj").collect()
    for i, r in enumerate(rows):
        want = ref.ref_trajectory(np.asarray(r["t"], dtype=np.float32).astype(float))
        assert_arrays_close([r["traj"]], [want], f"trajectory[{i}]")


def test_keep_ts(sdf, series):
    got = _collect(sdf.withColumn("k", ts.keep_ts("balance", 20)), "k")
    want = [ref.ref_keep_ts(s, 20) for s in _f32(series)]
    assert got == want
    # constant series (kind 2) and step series (kind 3) must be dropped
    assert got[2] == 0
    assert got[3] == 0
    assert got[0] == 1 and got[1] == 1


def test_keep_ts_monotone_in_threshold(sdf):
    # property: raising the threshold can only drop more series
    flags = {}
    for th in (1, 10, 50, 487):
        flags[th] = _collect(sdf.withColumn("k", ts.keep_ts("balance", th)), "k")
    for lo, hi in ((1, 10), (10, 50), (50, 487)):
        for a, b in zip(flags[lo], flags[hi]):
            assert a >= b


def test_detrend_retrend_as_shipped_are_noops(sdf):
    df = (
        sdf.withColumn("t", ts.trend("balance"))
        .withColumn("d", ts.detrend("balance", "t"))
        .withColumn("r", ts.retrend("balance", "t"))
    )
    rows = df.select("balance", "d", "r").collect()
    for r in rows:
        assert r["d"] == r["balance"]
        assert r["r"] == r["balance"]
