"""Per-series time-series operators, wide (array-column) form.

The reference implements these as row-at-a-time Python UDFs over
``array<float>`` columns (reference ``notebooks/utils.py:189-234`` wires
them; bodies at ``:239-405,1048-1067``). Here every operator is a
function that returns a Column, in one of two forms:

* **NumPy kernels** — ``series_mean``, ``series_std``, ``scaling``,
  ``get_x`` and ``get_y``. Each is a scalar Arrow UDF (``arrow_udf``)
  whose body runs one batch of series as 2-D NumPy blocks, rows grouped
  by length. Two rules keep them inside ONE ``ArrowEvalPython`` node,
  i.e. one Python worker per task:

  - scalar form only. Spark chains nested scalar UDFs of one eval type
    (``score(get_x(scaling(x)))``) and evaluates side-by-side ones
    (``series_mean(x)``) in the same node. PySpark's worker accepts one
    iterator UDF per node, so an iterator kernel would add a node and a
    worker.
  - kernels take only the series. ``scaling(x)`` standardizes ``x`` by
    its own rounded mean and std rather than reading JVM columns: a
    JVM expression as a UDF argument gets inlined into it, and an
    interpreted fold feeding a Python UDF fails to evaluate in Spark
    4.1.2 (``Cannot evaluate expression``).

  The kernels do the JVM expressions' operations in the same order, so
  their outputs are bit-identical: a fold becomes a sequential
  ``np.cumsum`` (``np.sum`` is pairwise and differs), and ``bround``
  becomes ``bround_half_even``. Arrow, unlike pandas, keeps a null
  element apart from NaN, so nulls follow Spark's rules too: a null
  element makes the series' mean, std and every scaled element null,
  and a division by a zero std gives null elements.
* **JVM expressions** — the trend family (``trend``, ``gradient``,
  ``extrapolate_trend``, ``trajectory``), ``keep_ts`` and
  ``rescaling``: array lambdas (`transform`/`aggregate`/`slice`/
  `zip_with`) with no Python and no shuffle. These higher-order
  functions are ``CodegenFallback`` in Spark 4.1.2: each lambda runs
  interpreted, once per element, with no common-subexpression
  elimination.

Parity notes (SURVEY §7.4):
* ``np.around`` is round-half-even → ``F.bround``, never ``F.round``.
* Reference UDFs declare ``array<float>``/``float`` returns → values
  are float32-truncated; rounded outputs are cast the same way.
* ``detrend``/``retrend`` are as-shipped NO-OPS (the subtraction is
  commented out — reference ``notebooks/utils.py:258,270``).
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

The JVM operators' internal helpers build SQL fragments (strings);
public operators wrap them in ``F.expr``. ``let``-style bindings are
emulated with ``transform(array(<value>), _name -> <body>)[0]`` so
expensive sub-arrays are computed once, not per element. A column that
a per-element lambda reads is bound the same way (``rescaling``):
CollapseProject inlines a column's producer wherever it is referenced
only once, and inside the lambda that means once per element. These
notes now cover only the trend family, ``keep_ts`` and ``rescaling``.
"""

from __future__ import annotations

import functools
from decimal import ROUND_HALF_EVEN, Context, Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, FloatType


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


def detrend(x: str, trend_col: str) -> Column:
    """W2. As-shipped: identity (reference ``notebooks/utils.py:258``)."""
    return F.col(x)


def retrend(x: str, trend_col: str) -> Column:
    """W3. As-shipped: identity (reference ``notebooks/utils.py:270``)."""
    return F.col(x)


# ---------------------------------------------------------------------------
# NumPy kernels: rounding, Arrow <-> blocks, A1/A2 mean/std, W4 scaling,
# W6/W7 X/y windows
# ---------------------------------------------------------------------------

# Relative half-width of the window around a rounding tie that goes
# through Decimal. The float product ``v·10ⁿ`` and the decimal string
# Spark rounds both lie within a few ulps (2⁻⁵² relative) of the exact
# value; this window is millions of times wider than that.
_TIE_WINDOW = 1e-9
_DECIMAL = Context(prec=400)  # room for every double at any scale
_FLOAT_ARRAY = ArrayType(FloatType())


def bround_half_even(a, ndigits: int) -> np.ndarray:
    """Spark's ``bround(a, ndigits)`` on doubles, elementwise in NumPy.

    Spark rounds the decimal that ``Double.toString`` prints, HALF_EVEN,
    back to a double. Here ``k = floor(a·10ⁿ)``, plus one when the
    fraction is above a half; ``k / 10ⁿ`` is then the double nearest
    the decimal, because both operands are exact and IEEE division is
    correctly rounded. Only elements whose fraction lies within
    ``_TIE_WINDOW·max(1, |a·10ⁿ|)`` of one half, or whose product
    overflows, round ``Decimal(repr(a))`` instead. Zeros come back
    +0.0 (Spark's BigDecimal has no negative zero); NaN and ±Inf pass
    through. ``ndigits`` must be non-negative."""
    a = np.asarray(a, dtype=np.float64)
    scale = 10.0 ** ndigits
    with np.errstate(over="ignore", invalid="ignore"):
        t = a * scale
        k = np.floor(t)
        frac = t - k
        out = (k + (frac > 0.5)) / scale + 0.0
        # a product that overflows leaves frac NaN: Decimal too
        near = np.isfinite(a) & ~(
            np.abs(frac - 0.5) >= _TIE_WINDOW * np.maximum(1.0, np.abs(t))
        )
    if near.any():
        q = Decimal(1).scaleb(-ndigits)
        idx = np.flatnonzero(near)
        out.flat[idx] = [
            float(Decimal(repr(v)).quantize(q, ROUND_HALF_EVEN, _DECIMAL)) + 0.0
            for v in a.flat[idx].tolist()
        ]
    return np.where(np.isfinite(a), out, a)


def _round3(v: np.ndarray) -> np.ndarray:
    """``CAST(bround(v, 3) AS FLOAT)``."""
    return bround_half_even(v, 3).astype(np.float32)


def _blocks(arr: pa.Array):
    """Split a ``list<float|double>`` Arrow array into 2-D blocks.

    Yields ``(rows, block, nulls)`` for each distinct length of the
    non-null rows: their indices, a float64 ``(len(rows), length)``
    block, and the block's null-element mask (None when the array holds
    no null element; a null element reads NaN in ``block``)."""
    offsets = arr.offsets.to_numpy()
    values = arr.values
    flat = values.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
    null_elem = (
        values.is_null().to_numpy(zero_copy_only=False)
        if values.null_count else None
    )
    lengths = np.diff(offsets)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    for n in np.unique(lengths[valid]):
        rows = np.flatnonzero(valid & (lengths == n))
        idx = offsets[rows, None] + np.arange(n)
        yield rows, flat[idx], None if null_elem is None else null_elem[idx]


def _list_array(n_rows: int, parts) -> pa.Array:
    """An ``array<float>`` Arrow array from ``(rows, block, nulls)``
    parts (``nulls`` a mask of ``block``'s shape, or None); rows no
    part names are null."""
    lengths = np.zeros(n_rows, dtype=np.int32)
    for rows, block, _ in parts:
        lengths[rows] = block.shape[1]
    offsets = np.zeros(n_rows + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.empty(offsets[-1], dtype=np.float32)
    null_elem = None
    valid = np.zeros(n_rows, dtype=bool)
    for rows, block, nulls in parts:
        valid[rows] = True
        idx = offsets[rows, None] + np.arange(block.shape[1])
        flat[idx] = block
        if nulls is not None:
            if null_elem is None:
                null_elem = np.zeros(len(flat), dtype=bool)
            null_elem[idx] = nulls
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(flat, mask=null_elem), mask=pa.array(~valid)
    )


def _mean(block: np.ndarray) -> np.ndarray:
    """``aggregate(x, 0D, (a, v) -> a + v) / size(x)`` per row: the
    sequential fold, not NumPy's pairwise sum."""
    return np.cumsum(block, axis=1)[:, -1] / block.shape[1]


def _std(block: np.ndarray, mean: np.ndarray) -> np.ndarray:
    """Population std per row, two-pass like numpy, folded in order."""
    dev = block - mean[:, None]
    return np.sqrt(np.cumsum(dev * dev, axis=1)[:, -1] / block.shape[1])


def _series_stat(arr: pa.Array, stat) -> pa.Array:
    """``stat(block)`` (unrounded float64 per row) rounded as
    ``CAST(bround(·, 3) AS FLOAT)``. Null for a null or empty series
    and for one holding a null element, as Spark's fold and its
    division by a zero size give."""
    out = np.zeros(len(arr), dtype=np.float32)
    null = np.ones(len(arr), dtype=bool)
    for rows, block, nulls in _blocks(arr):
        if block.shape[1]:
            out[rows] = _round3(stat(block))
            null[rows] = False if nulls is None else nulls.any(axis=1)
    return pa.array(out, mask=null)


@arrow_udf(FloatType())
def _series_mean_udf(x: pa.Array) -> pa.Array:
    return _series_stat(x, _mean)


@arrow_udf(FloatType())
def _series_std_udf(x: pa.Array) -> pa.Array:
    return _series_stat(x, lambda block: _std(block, _mean(block)))


def series_mean(x: str) -> Column:
    """A1: ``round(np.mean(x), 3)`` as float32
    (reference ``notebooks/utils.py:274-281``). NumPy kernel."""
    return _series_mean_udf(x)


def series_std(x: str) -> Column:
    """A2: population std (ddof=0 — ``np.std``), bround 3, float32
    (reference ``notebooks/utils.py:284-291``). Two-pass like numpy:
    mean first, then mean of squared deviations. NumPy kernel."""
    return _series_std_udf(x)


def _scaled(block: np.ndarray, nulls: np.ndarray | None):
    """``round((x - mean)/std, 3)`` per row with the row's own rounded
    float32 mean and std, and the null mask Spark gives: a null element
    nulls the whole row (its mean is null), and so does std = 0
    (Spark's division by zero is null, not ±Inf)."""
    if not block.shape[1]:
        return block.astype(np.float32), None
    mean = _mean(block)
    m = _round3(mean).astype(np.float64)
    s = _round3(_std(block, mean)).astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        out = _round3((block - m[:, None]) / s[:, None])
    row_null = s == 0
    if nulls is not None:
        row_null |= nulls.any(axis=1)
    if not row_null.any():
        return out, None
    return out, np.broadcast_to(row_null[:, None], out.shape)


@arrow_udf(_FLOAT_ARRAY)
def _scaling_udf(x: pa.Array) -> pa.Array:
    return _list_array(len(x), [
        (rows, *_scaled(block, nulls)) for rows, block, nulls in _blocks(x)
    ])


def scaling(x: str) -> Column:
    """W4: elementwise ``round((x - mean)/std, 3)`` with the series' own
    ``series_mean`` and ``series_std`` (reference
    ``notebooks/utils.py:294-303``). std = 0 gives null elements
    (mitigated upstream by keep_ts). NumPy kernel: it takes only the
    series (see the module docstring)."""
    return _scaling_udf(x)


def rescaling(x: str, mean: str = "mean", std: str = "std") -> Column:
    """W5: elementwise ``round(x*std + mean, 3)``
    (reference ``notebooks/utils.py:306-316``). ``mean`` and ``std``
    are bound once, outside the per-element lambda (see the module
    docstring)."""
    return F.expr(
        _let(mean, "_mean", _let(std, "_std", (
            f"transform({x}, v -> CAST(bround(CAST(v AS DOUBLE) * _std"
            f" + _mean, 3) AS FLOAT))"
        )))
    )


def _window(arr: pa.Array, need: int, width: int, what: str):
    """``CAST(bround(v, 3) AS FLOAT)`` over ``x[-need : -need+width]``
    of every series, which must hold at least ``need`` elements (a
    null series counts as -1, as Spark's ``size`` does): a shorter one
    would otherwise yield a wrong window (X overlapping y) or an empty
    one."""
    sizes = np.where(
        arr.is_valid().to_numpy(zero_copy_only=False),
        np.diff(arr.offsets.to_numpy()), -1,
    )
    short = np.flatnonzero(sizes < need)
    if len(short):
        raise ValueError(
            f"{what} needs a series of at least {need} elements, "
            f"got {sizes[short[0]]}"
        )
    parts = []
    for rows, block, nulls in _blocks(arr):
        cut = slice(block.shape[1] - need, block.shape[1] - need + width)
        parts.append((rows, _round3(block[:, cut]),
                      None if nulls is None else nulls[:, cut]))
    return _list_array(len(arr), parts)


def get_x(x: str, x_days: int = 365, y_days: int = 92) -> Column:
    """W6: history slice ``x[-X-y : -y]``, bround 3
    (reference ``notebooks/utils.py:320-331``). A series shorter than
    ``x_days + y_days`` fails the job. NumPy kernel."""
    return _get_x_udf(x_days, y_days)(x)


def get_y(x: str, y_days: int = 92) -> Column:
    """W7: label slice ``x[-y:]``, bround 3
    (reference ``notebooks/utils.py:334-344``). A series shorter than
    ``y_days`` fails the job. NumPy kernel."""
    return _get_y_udf(y_days)(x)


# One UDF object per window: a UDF pickles its function on first use,
# so a cached one pays that once, not on every plan build.
@functools.cache
def _get_x_udf(x_days: int, y_days: int):
    n = x_days + y_days
    what = f"get_x (x_days {x_days} + y_days {y_days})"

    @arrow_udf(_FLOAT_ARRAY)
    def _get_x(x: pa.Array) -> pa.Array:
        return _window(x, n, x_days, what)

    return _get_x


@functools.cache
def _get_y_udf(y_days: int):
    what = f"get_y (y_days {y_days})"

    @arrow_udf(_FLOAT_ARRAY)
    def _get_y(x: pa.Array) -> pa.Array:
        return _window(x, y_days, y_days, what)

    return _get_y


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
