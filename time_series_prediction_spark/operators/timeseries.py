"""Per-series time-series operators, wide (array-column) form.

The reference implements these as row-at-a-time Python UDFs over
``array<float>`` columns (reference ``notebooks/utils.py:189-234`` wires
them; bodies at ``:239-405,1048-1067``). Here each operator is a native
Column expression — array lambdas (`transform`/`aggregate`/`slice`/
`zip_with`) that run in the JVM with zero Python serialization and
zero shuffle: every operator is embarrassingly parallel per row, so a
100 TB table of series scales linearly with executors. The
higher-order functions are ``CodegenFallback`` in Spark 4.1.2: each
lambda runs interpreted, once per element, with no
common-subexpression elimination.

Parity notes (SURVEY §7.4):
* ``np.around`` is round-half-even → ``F.bround``, never ``F.round``.
* Reference UDFs declare ``array<float>``/``float`` returns → values
  are float32-truncated; rounded outputs are cast the same way.
* ``detrend``/``retrend`` are as-shipped NO-OPS (the subtraction is
  commented out — reference ``notebooks/utils.py:258,270``). Default
  honors as-shipped; ``strict=True`` applies the documented arithmetic.
* trend replicates ``statsmodels.seasonal_decompose(x, model='additive',
  freq=f, extrapolate_trend=1).trend``: centered moving average with
  the even-window 2×f convolution filter ``[0.5, 1...1, 0.5]/f``
  (length f+1), NaN edges filled by statsmodels' npoints=1
  extrapolation — an UNDERDETERMINED 1-point least squares whose
  minimum-norm solution is ``k = x0*y0/(x0²+1), n = y0/(x0²+1)``
  (NOT a constant fill).
* extrapolate_trend's day loop ``out[d] = slope + out[d-1]`` is
  reproduced as a sequential fold (not the closed form
  ``anchor + d*slope``) so float accumulation matches the reference
  bit-for-bit before rounding.

Internal helpers build SQL fragments (strings); public operators wrap
them in ``F.expr``. ``let``-style bindings are emulated with
``transform(array(<value>), _name -> <body>)[0]`` so expensive
sub-arrays are computed once, not per element. A column that a
per-element lambda reads is bound the same way (``scaling``):
CollapseProject inlines a column's producer wherever it is referenced
only once, and inside the lambda that means once per element.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sum(arr: str) -> str:
    """Sequential left-fold sum of an array as double (SQL fragment)."""
    return f"aggregate({arr}, 0D, (a, v) -> a + CAST(v AS DOUBLE))"


def _let(value: str, name: str, body: str) -> str:
    """Bind ``value`` once as ``name`` inside ``body`` (poor man's let)."""
    return f"transform(array({value}), {name} -> {body})[0]"


def _nanmedian(arr: str) -> str:
    """Exact median of a double array, NaN-filtered, numpy interpolation
    semantics (mean of the two middle elements for even counts).

    Exact sort + middle-pick, not percentile_approx — parity with
    ``np.nanmedian`` needs the exact value (SURVEY §7.4.7). The array
    is per-row (hundreds of elements): O(len·log len) JVM work, no
    shuffle.
    """
    # elements cast to double BEFORE the average: on float32 arrays,
    # float+float stays float32 in Spark and loses precision
    body = (
        "CASE WHEN size(_s) = 0 THEN CAST('NaN' AS DOUBLE) ELSE "
        "(CAST(element_at(_s, CAST((size(_s) + 1) / 2 AS INT)) AS DOUBLE) + "
        " CAST(element_at(_s, CAST(size(_s) / 2 + 1 AS INT)) AS DOUBLE)) / 2.0D END"
    )
    return _let(f"array_sort(filter({arr}, v -> NOT isnan(v)))", "_s", body)


# ---------------------------------------------------------------------------
# W1: trend (seasonal-decompose moving average + edge extrapolation)
# ---------------------------------------------------------------------------


def _trend_raw_sql(x: str, freq: int = 30) -> str:
    if freq % 2 == 0:
        trim = freq // 2  # filter [0.5, 1×(freq-1), 0.5]/freq, length freq+1
        valid = (
            f"(0.5D * CAST({x}[i - {trim}] AS DOUBLE)"
            f" + {_sum(f'slice({x}, i - {trim} + 2, {freq - 1})')}"
            f" + 0.5D * CAST({x}[i + {trim}] AS DOUBLE)) / {freq}.0D"
        )
    else:
        trim = (freq - 1) // 2  # plain centered MA, length freq
        valid = f"{_sum(f'slice({x}, i - {trim} + 1, {freq})')} / {freq}.0D"

    n = f"size({x})"
    raw = (
        f"transform(sequence(0, {n} - 1), i -> "
        f"CASE WHEN i >= {trim} AND i <= {n} - 1 - {trim} "
        f"THEN {valid} ELSE CAST(NULL AS DOUBLE) END)"
    )
    # statsmodels _extrapolate_trend, npoints=1: min-norm 1-point fits
    # through (front, raw[front]) for the head and (back-1, raw[back-1])
    # for the tail; raw[back] itself is kept.
    front = trim
    back = f"({n} - 1 - {trim})"
    vf = f"element_at(_raw, {front} + 1)"
    vb = f"element_at(_raw, {back})"  # 0-based back-1 == 1-based back
    x0b = f"CAST({back} - 1 AS DOUBLE)"
    head = f"{vf} * ({front}.0D * CAST(i AS DOUBLE) + 1.0D) / ({front * front} + 1.0D)"
    tail = f"{vb} * ({x0b} * CAST(i AS DOUBLE) + 1.0D) / ({x0b} * {x0b} + 1.0D)"
    body = (
        f"transform(sequence(0, {n} - 1), i -> "
        f"CASE WHEN i < {front} THEN {head} "
        f"WHEN i > {back} THEN {tail} "
        f"ELSE element_at(_raw, i + 1) END)"
    )
    return _let(raw, "_raw", body)


def trend(x: str, freq: int = 30) -> Column:
    """W1 reference-parity trend: statsmodels ``seasonal_decompose``
    (model='additive', extrapolate_trend=1; reference
    ``notebooks/utils.py:239-248``, freq=30 at ``notebooks/utils.py:189-190``),
    bround 3, float32 (``array<float>``). Series shorter than freq+2
    produce nulls at every position (statsmodels would raise)."""
    return F.expr(
        f"transform({_trend_raw_sql(x, freq)}, v -> CAST(bround(v, 3) AS FLOAT))"
    )


# ---------------------------------------------------------------------------
# W2/W3: detrend / retrend
# ---------------------------------------------------------------------------


def detrend(x: str, trend_col: str, strict: bool = False) -> Column:
    """W2. As-shipped: identity (reference ``notebooks/utils.py:258``).
    strict=True: documented x - trend, bround 3."""
    if not strict:
        return F.col(x)
    return F.expr(
        f"zip_with({x}, {trend_col}, (a, b) -> "
        f"CAST(bround(CAST(a AS DOUBLE) - CAST(b AS DOUBLE), 3) AS FLOAT))"
    )


def retrend(x: str, trend_col: str, strict: bool = False) -> Column:
    """W3. As-shipped: identity (reference ``notebooks/utils.py:270``).
    strict=True: documented x + trend, bround 3."""
    if not strict:
        return F.col(x)
    return F.expr(
        f"zip_with({x}, {trend_col}, (a, b) -> "
        f"CAST(bround(CAST(a AS DOUBLE) + CAST(b AS DOUBLE), 3) AS FLOAT))"
    )


# ---------------------------------------------------------------------------
# A1/A2: per-series mean / std (population)
# ---------------------------------------------------------------------------


def series_mean(x: str) -> Column:
    """A1: ``round(np.mean(x), 3)`` as float32
    (reference ``notebooks/utils.py:274-281``)."""
    return F.expr(f"CAST(bround({_sum(x)} / size({x}), 3) AS FLOAT)")


def series_std(x: str) -> Column:
    """A2: population std (ddof=0 — ``np.std``), bround 3, float32
    (reference ``notebooks/utils.py:284-291``). Two-pass like numpy:
    mean first, then mean of squared deviations."""
    var = _let(
        f"({_sum(x)} / size({x}))",
        "_m",
        f"aggregate({x}, 0D, (a, v) -> a + (CAST(v AS DOUBLE) - _m) "
        f"* (CAST(v AS DOUBLE) - _m)) / size({x})",
    )
    return F.expr(f"CAST(bround(sqrt({var}), 3) AS FLOAT)")


# ---------------------------------------------------------------------------
# W4/W5: scaling / rescaling
# ---------------------------------------------------------------------------


def scaling(x: str, mean: str = "mean", std: str = "std") -> Column:
    """W4: elementwise ``round((x - mean)/std, 3)``
    (reference ``notebooks/utils.py:294-303``). std=0 ⇒ ±Infinity/NaN,
    matching numpy's silent division (mitigated upstream by keep_ts).
    ``mean`` and ``std`` are bound once, outside the per-element lambda
    (see the module docstring)."""
    return F.expr(
        _let(mean, "_mean", _let(std, "_std", (
            f"transform({x}, v -> CAST(bround((CAST(v AS DOUBLE) - _mean)"
            f" / _std, 3) AS FLOAT))"
        )))
    )


def rescaling(x: str, mean: str = "mean", std: str = "std") -> Column:
    """W5: elementwise ``round(x*std + mean, 3)``
    (reference ``notebooks/utils.py:306-316``). ``mean`` and ``std``
    are bound once, as in ``scaling``."""
    return F.expr(
        _let(mean, "_mean", _let(std, "_std", (
            f"transform({x}, v -> CAST(bround(CAST(v AS DOUBLE) * _std"
            f" + _mean, 3) AS FLOAT))"
        )))
    )


# ---------------------------------------------------------------------------
# W6/W7: X / y windowing
# ---------------------------------------------------------------------------


def _require_length(x: str, n: int, what: str, body: str) -> str:
    """``body`` for series of at least ``n`` elements, else fail the
    job naming the length. A negative ``slice`` start counts from the
    end, so a short series would otherwise yield a wrong window (X
    overlapping y), an empty one, or an opaque START error."""
    return (
        f"CASE WHEN size({x}) < {n} THEN raise_error(concat("
        f"'{what} needs a series of at least {n} elements, got ', "
        f"CAST(size({x}) AS STRING))) ELSE {body} END"
    )


def get_x(x: str, x_days: int = 365, y_days: int = 92) -> Column:
    """W6: history slice ``x[-X-y : -y]``, bround 3
    (reference ``notebooks/utils.py:320-331``). A series shorter than
    ``x_days + y_days`` fails the job."""
    n = x_days + y_days
    return F.expr(_require_length(
        x, n, f"get_x (x_days {x_days} + y_days {y_days})",
        f"transform(slice({x}, size({x}) - {n} + 1, {x_days}), "
        f"v -> CAST(bround(CAST(v AS DOUBLE), 3) AS FLOAT))",
    ))


def get_y(x: str, y_days: int = 92) -> Column:
    """W7: label slice ``x[-y:]``, bround 3
    (reference ``notebooks/utils.py:334-344``). A series shorter than
    ``y_days`` fails the job."""
    return F.expr(_require_length(
        x, y_days, f"get_y (y_days {y_days})",
        f"transform(slice({x}, size({x}) - {y_days} + 1, {y_days}), "
        f"v -> CAST(bround(CAST(v AS DOUBLE), 3) AS FLOAT))",
    ))


# ---------------------------------------------------------------------------
# W8: gradient
# ---------------------------------------------------------------------------


def _gradient_sql(x: str) -> str:
    n = f"size({x})"
    return (
        f"transform(sequence(0, {n} - 1), i -> CASE "
        f"WHEN i = 0 THEN CAST({x}[1] AS DOUBLE) - CAST({x}[0] AS DOUBLE) "
        f"WHEN i = {n} - 1 THEN CAST({x}[i] AS DOUBLE) - CAST({x}[i - 1] AS DOUBLE) "
        f"ELSE (CAST({x}[i + 1] AS DOUBLE) - CAST({x}[i - 1] AS DOUBLE)) / 2.0D END)"
    )


def gradient(x: str) -> Column:
    """W8: ``np.gradient`` — central differences, one-sided at edges
    (reference ``notebooks/utils.py:358,396``). Returns array<double>."""
    return F.expr(_gradient_sql(x))


# ---------------------------------------------------------------------------
# W9: extrapolate_trend
# ---------------------------------------------------------------------------


def extrapolate_trend(
    trend_col: str,
    window_days: int = 183,
    horizon_days: int = 92,
    serving: bool = False,
) -> Column:
    """W9: linear trend extrapolation (reference ``notebooks/utils.py:347-382``).

    slope = gradient(trend); aggregated slope = nanmedian of the last
    ``window+horizon`` slopes in train mode / last ``window`` in
    serving; anchor = trend[-1-horizon] (train) or
    trend[-1] (serve); then the day-by-day recurrence
    ``out[d] = slope + out[d-1]`` as a sequential fold (see module
    doc), bround 3, float32.
    """
    k = window_days + horizon_days if not serving else window_days
    anchor_idx = (
        f"size({trend_col}) - 1 - {horizon_days}"
        if not serving
        else f"size({trend_col}) - 1"
    )
    anchor = f"CAST({trend_col}[{anchor_idx}] AS DOUBLE)"
    agg = _nanmedian("_last")
    fold = (
        f"aggregate(sequence(1, {horizon_days}), CAST(array() AS ARRAY<DOUBLE>), "
        f"(acc, d) -> concat(acc, array(_agg + coalesce(element_at(acc, -1), {anchor}))))"
    )
    body = _let(
        f"slice(_g, greatest(size(_g) - {k} + 1, 1), {k})",
        "_last",
        _let(agg, "_agg", f"transform({fold}, v -> CAST(bround(v, 3) AS FLOAT))"),
    )
    return F.expr(_let(_gradient_sql(trend_col), "_g", body))


# ---------------------------------------------------------------------------
# W10: trajectory
# ---------------------------------------------------------------------------


def trajectory(trend_col: str, window_months: int = 6) -> Column:
    """W10: monthly trajectory metric (reference ``notebooks/utils.py:385-405``):
    ``round(nanmedian(gradient(trend)[-int(30.5*m):]) * 30.5, 3)`` as float.

    The reference declares this UDF ``array<float>`` while returning a
    float (type bug, SURVEY §7.4.4); the engine returns the honest
    float type.
    """
    n_days = int(30.5 * window_months)
    agg = _nanmedian("_last")
    body = _let(
        f"slice(_g, greatest(size(_g) - {n_days} + 1, 1), {n_days})",
        "_last",
        f"CAST(bround({agg} * 30.5D, 3) AS FLOAT)",
    )
    return F.expr(_let(_gradient_sql(trend_col), "_g", body))


# ---------------------------------------------------------------------------
# W11: time_series_cleaning
# ---------------------------------------------------------------------------


def keep_ts(x: str, threshold_count: int = 20) -> Column:
    """W11: keep flag (reference ``notebooks/utils.py:1048-1067``):
    0 if all values equal, 0 if the count of non-zero day-to-day changes
    is below ``threshold_count``, else 1.

    Native predicate — unlike the reference's UDF flag this composes
    with Catalyst: the filter stays JVM-side with no Python round-trip.

    ``x`` is bound ONCE via ``_let``: when this predicate is pushed
    below the projection that computes ``x`` (e.g. the synthetic
    generator), the optimizer substitutes the producing expression into
    EVERY reference — and higher-order functions run interpreted with
    no common-subexpression elimination, so a multi-reference predicate
    would recompute the whole series once per reference (measured 5-6×
    on the generation pipeline).
    """
    changes = (
        "size(filter(zip_with(slice(_x, 2, size(_x) - 1), "
        "slice(_x, 1, size(_x) - 1), "
        "(a, b) -> CAST(a AS DOUBLE) - CAST(b AS DOUBLE)), d -> d != 0D))"
    )
    # all-equal via exists (O(n)), not array_distinct (O(n²) on float
    # arrays). Spark's NaN semantics (NaN = NaN is true) keep this
    # equivalent to the distinct-count form for NaN-bearing series.
    return F.expr(
        _let(
            x,
            "_x",
            f"CASE WHEN NOT exists(_x, v -> v != _x[0]) THEN 0 "
            f"WHEN {changes} < {threshold_count} THEN 0 ELSE 1 END",
        )
    )
