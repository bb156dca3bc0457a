"""Seeded synthetic cashflow-series generator and its DuckDB replay.

Replicates the reference generator's signal model (reference
``src/demo/utils.py:128-197``, wired as a zero-arg nondeterministic
Python UDF at ``src/demo/create_time_series.py:172-190``):

    trend     sign · salary · exp(trend_exp · linspace(0, 1, n))
    seasonal  sine / sawtooth / triangle / square, period 30.5 days,
              random phase (scipy.signal conventions: sawtooth rises
              -1→1 per period; square is +1 for the first half period)
    noise     N(0, noise_sd · salary) per day
    spikes    3 level shifts at uniform integer times in
              [n-457, n-92), each ±N(3·salary, salary), applied from
              the spike time to the end of the series
    params    salary = max(N(15000, 5000), 100); trend_exp = U(1, 2);
              noise_sd = |N(0, 0.01)| + 0.1; values rounded half-even
              to 2 decimals, stored float32

The one intentional semantic upgrade (SURVEY §7.4.5): the reference's
RNG is unseeded per-row Python, so its output is irreproducible. Here
every random draw is a hash of (seed, series_id, purpose-tag[, day]) —
md5-derived 52-bit uniforms, Box-Muller normals — so the same call
always produces the same table, on any cluster, at any parallelism.
Parity with the reference generator is distributional, not per-value.

The md5 derivation (not xxhash64, which DuckDB lacks) makes the draw
sequence CROSS-ENGINE replayable: ``duckdb_series_cte`` (built from
``duckdb_u``/``duckdb_normal``/``duckdb_normal_pair``/``duckdb_bround``)
replays the generator draw for draw in DuckDB, which is how
``cashflow_synthetic_pipeline`` and perfbench's serve set-up are
oracle-checked (the hash integers are bit-identical; the few
transcendentals — ln/cos/sin in Box-Muller, exp/sin in the signal —
agree to ≤1 ulp between NumPy and DuckDB's libm, absorbed by the
generator's terminal ``bround(·, 2)`` cents quantization; verified
value-exact in tests).

``generate_series_frame`` is one Arrow ``mapInPandas`` pass (hashlib
md5 + NumPy per batch), embarrassingly parallel over ``spark.range``
splits with no shuffle, so 2.5M series (the reference's serving
scale) fan out linearly with executors.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from time_series_prediction_spark.operators.timeseries import bround_half_even
from time_series_prediction_spark.sources.io import date_sequence_col

# 13 hex chars of md5 = 52 bits — exactly representable in a double,
# so (v + 0.5) / 2^52 is the same IEEE value in every engine
_U_DIV = float(2**52)

# The reference's table: a 487-day date axis, a 30.5-day seasonal
# period and 3 level shifts per series, keyed by primaryaccountholder
_START_DATE = "2018-12-01"
_END_DATE = "2020-03-31"
_CYCLE_PERIOD = 30.5
_N_SPIKES = 3
_ID_COL = "primaryaccountholder"


def duckdb_u(seed: int, tag: int, extra: str = "'0'") -> str:
    """DuckDB mirror of the generator's uniform draw (``_u_of`` in
    ``generate_series_frame``) over a column named ``id`` — same md5
    input string, same 52-bit slice, same IEEE map."""
    s = f"'{seed}|' || CAST(id AS VARCHAR) || '|{tag}|' || {extra}"
    return (
        f"((('0x' || substr(md5({s}), 1, 13))::BIGINT + 0.5e0)"
        f" / {_U_DIV!r})"
    )


def duckdb_normal(seed: int, tag: int, extra: str = "'0'") -> str:
    """DuckDB mirror of the generator's Box-Muller normal (``_z_of``
    in ``generate_series_frame``): one md5 digest carries two 52-bit
    uniforms (hex chars 1-13 and 14-26), and the tag namespace
    ``n{tag}`` keeps normal draws disjoint from uniform ones; identical
    digest, slices, and operand order."""
    s = f"'{seed}|' || CAST(id AS VARCHAR) || '|n{tag}|' || {extra}"

    def u(lo: int) -> str:
        return (
            f"((('0x' || substr(_hn, {lo}, 13))::BIGINT + 0.5e0)"
            f" / {_U_DIV!r})"
        )

    return (
        f"(list_transform([md5({s})], _hn -> "
        f"sqrt(-2.0e0 * ln({u(1)})) * cos({2 * math.pi!r} * {u(14)}))[1])"
    )


def duckdb_normal_pair(seed: int, tag: int, i_expr: str = "i") -> str:
    """DuckDB mirror of the generator's paired Box-Muller day noise
    (one md5 digest per two days) for ROW-SHAPED replay: the draw for
    day ``i`` — digest keyed on pair index ``i // 2``, cos branch for
    even ``i``, sin for odd. Identical digest string, slices, and
    operand order, so the IEEE sequence matches the generated array
    element for element."""
    s = (
        f"'{seed}|' || CAST(id AS VARCHAR) || '|n{tag}p|' || "
        f"CAST(({i_expr} // 2) AS VARCHAR)"
    )
    u1 = (
        f"((('0x' || substr(_hn, 1, 13))::BIGINT + 0.5e0)"
        f" / {_U_DIV!r})"
    )
    u2 = (
        f"((('0x' || substr(_hn, 14, 13))::BIGINT + 0.5e0)"
        f" / {_U_DIV!r})"
    )
    return (
        f"(list_transform([md5({s})], _hn -> "
        f"list_transform([sqrt(-2.0e0 * ln({u1}))], _r -> "
        f"list_transform([{2 * math.pi!r} * {u2}], _c -> "
        f"CASE WHEN ({i_expr}) % 2 = 0 THEN _r * cos(_c) "
        f"ELSE _r * sin(_c) END)[1])[1])[1])"
    )


def generate_series_frame(
    spark: SparkSession, n_series: int, seed: int = 42
) -> DataFrame:
    """Generate the ``ts_balance`` table (FIXTURES.md A1 schema):
    (primaryaccountholder, transactiondate array<date>, balance
    array<float>, signal_type int).

    Generation is ONE vectorized Arrow pass (``mapInPandas``) over the
    ``spark.range`` splits: per series, hashlib md5 draws the
    parameters and the paired Box-Muller day noise, NumPy builds the
    signal, and each element is rounded with ``bround(·, 2)``
    semantics (shortest-repr decimal, HALF_EVEN). The md5-derived
    integers are bit-identical to ``duckdb_series_cte``'s by
    construction, every float op follows that replay's operand order,
    and the transcendentals (ln/cos/sin/exp) agree with DuckDB's libm
    to ≤1 ulp, which the terminal rounding absorbs — value-exactness
    is pinned by the DuckDB-replay goldens
    (tests/test_generate_pipeline.py) and the
    cashflow_synthetic_pipeline oracle. Embarrassingly parallel over
    range splits, no shuffle: 2.5M series fan out linearly."""
    import datetime as _dt
    import hashlib
    import numpy as np
    import pandas as pd

    d0 = _dt.date.fromisoformat(_START_DATE)
    d1 = _dt.date.fromisoformat(_END_DATE)
    n = (d1 - d0).days + 1
    nf = float(n)
    two_pi = 2 * math.pi

    def _u_of(sid: str, tag, extra="0") -> float:
        h = hashlib.md5(f"{seed}|{sid}|{tag}|{extra}".encode()).hexdigest()
        return (int(h[:13], 16) + 0.5) / _U_DIV

    def _z_of(sid: str, tag: int, extra="0") -> float:
        h = hashlib.md5(
            f"{seed}|{sid}|n{tag}|{extra}".encode()
        ).hexdigest()
        u1 = (int(h[:13], 16) + 0.5) / _U_DIV
        u2 = (int(h[13:26], 16) + 0.5) / _U_DIV
        return math.sqrt(-2.0 * math.log(u1)) * math.cos(two_pi * u2)

    i_f = np.arange(n, dtype=np.float64)
    t_i = (-nf / 2.0) + (i_f * nf) / (nf - 1.0)
    n_pairs = (n + 1) // 2

    def _gen_batch(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out_bal = []
            out_type = []
            for rid in pdf[_ID_COL]:
                sid = str(int(rid))
                salary = max(_z_of(sid, 1) * 5000.0 + 15000.0, 100.0)
                trend_exp = _u_of(sid, 5) + 1.0
                noise_sd = abs(_z_of(sid, 3) * 0.01) + 0.1
                sign = -1.0 if _u_of(sid, 7) < 0.5 else 1.0
                phase = (_u_of(sid, 9) * 2.0 - 1.0) * math.pi
                choice = int(math.floor(_u_of(sid, 11) * 4.0))
                # paired Box-Muller day noise: one digest per two days
                u1 = np.empty(n_pairs)
                u2 = np.empty(n_pairs)
                for p in range(n_pairs):
                    h = hashlib.md5(
                        f"{seed}|{sid}|n50p|{p}".encode()
                    ).hexdigest()
                    u1[p] = int(h[:13], 16)
                    u2[p] = int(h[13:26], 16)
                u1 = (u1 + 0.5) / _U_DIV
                u2 = (u2 + 0.5) / _U_DIV
                r = np.sqrt(-2.0 * np.log(u1))
                c = two_pi * u2
                z = np.empty(2 * n_pairs)
                z[0::2] = r * np.cos(c)
                z[1::2] = r * np.sin(c)
                z = z[:n]
                x = (two_pi * t_i) / _CYCLE_PERIOD + phase
                q = x / two_pi
                frac = q - np.floor(q)
                saw = 2.0 * frac - 1.0
                if choice == 0:
                    seasonal = 0.5 * salary * np.sin(x)
                elif choice == 1:
                    seasonal = -0.5 * salary * saw
                elif choice == 2:
                    seasonal = salary * np.abs(saw) - 1.0
                else:
                    square = np.where(frac < 0.5, 1.0, -1.0)
                    seasonal = 0.5 * salary * square
                trend = (sign * salary) * np.exp(
                    (trend_exp * i_f) / (nf - 1.0)
                )
                noise = (noise_sd * salary) * z
                total = seasonal + trend + noise
                for k in range(_N_SPIKES):
                    t_k = n - 457 + int(
                        math.floor(_u_of(sid, 20 + k) * 365.0)
                    )
                    s_k = -1.0 if _u_of(sid, 30 + k) < 0.5 else 1.0
                    a_k = s_k * (
                        3.0 * salary + salary * _z_of(sid, 40 + k)
                    )
                    spike = np.where(i_f >= float(t_k), a_k, 0.0)
                    total = total + spike
                # Spark's bround(·, 2): shortest-repr decimal, HALF_EVEN
                bal = bround_half_even(total, 2).astype(np.float32)
                out_bal.append(bal)
                out_type.append((1, 4, 2, 3)[choice])
            yield pd.DataFrame(
                {
                    _ID_COL: pdf[_ID_COL].to_numpy(),
                    "balance": out_bal,
                    "signal_type": np.array(out_type, dtype=np.int32),
                }
            )

    gen = spark.range(n_series).toDF(_ID_COL).mapInPandas(
        _gen_batch,
        f"{_ID_COL} long, balance array<float>, signal_type int",
    )
    # the shared date axis is one constant-folded sequence expression —
    # attaching it JVM-side keeps ~n_days date objects per row out of
    # the Arrow channel (guide §4.1: pass only what the function needs)
    return gen.withColumn(
        "transactiondate", date_sequence_col(_START_DATE, _END_DATE)
    ).select(_ID_COL, "transactiondate", "balance", "signal_type")


def duckdb_bround(v: str, ndigits: int) -> str:
    """DuckDB mirror of Spark's ``bround(v, ndigits)`` on DOUBLE —
    shortest-repr (VARCHAR cast) decimal, HALF_EVEN. Same construction
    as ``plans/flagship._bround3`` (fuzz-verified against Spark),
    generalized over the scale."""
    scale = 10 ** ndigits
    d = f"CAST(CAST({v} AS VARCHAR) AS DECIMAL(38,18)) * {scale}"
    return (
        f"list_transform([{d}], _s -> "
        f"list_transform([floor(_s)], _f -> "
        f"CASE WHEN _s - _f > 0.5 THEN _f + 1 "
        f"WHEN _s - _f < 0.5 THEN _f "
        f"WHEN CAST(_f AS BIGINT) % 2 = 0 THEN _f "
        f"ELSE _f + 1 END)[1])[1] / {scale}.0e0"
    )


def duckdb_series_cte(n_series: int, n_days: int, seed: int = 42) -> str:
    """DuckDB CTE chain replaying ``generate_series_frame`` draw for
    draw: ``gen(id, signal_type, b LIST(FLOAT))``. Every expression
    mirrors the generator's operand ORDER (IEEE addition is not
    associative) and every literal is e-notation (a bare DuckDB
    decimal literal is DECIMAL, not DOUBLE — different rounding). The
    md5-derived uniforms are bit-identical across engines; the
    transcendentals (exp/sin/ln/cos) agree to ≤1 ulp and the terminal
    ``bround(·, 2)`` absorbs the difference (value-exact over the
    whole fixture — pinned in tests/test_generate_pipeline.py)."""
    n = n_days
    pi = repr(math.pi)
    two_pi = repr(2 * math.pi)

    def u(tag, extra="'0'"):
        return duckdb_u(seed, tag, extra)

    def normal(tag, extra="'0'"):
        return duckdb_normal(seed, tag, extra)

    salary = (
        f"greatest({normal(1)} * 5000.0e0 + 15000.0e0, 100.0e0)"
    )
    trend_exp = f"({u(5)} + 1.0e0)"
    noise_sd = f"(abs({normal(3)} * 0.01e0) + 0.1e0)"
    sign = f"(CASE WHEN {u(7)} < 0.5e0 THEN -1.0e0 ELSE 1.0e0 END)"
    phase = f"(({u(9)} * 2.0e0 - 1.0e0) * {pi})"
    choice = f"CAST(floor({u(11)} * 4.0e0) AS INT)"
    spike_cols = []
    for k in range(_N_SPIKES):
        t_k = f"({n} - 457 + CAST(floor({u(20 + k)} * 365.0e0) AS INT))"
        s_k = (
            f"(CASE WHEN {u(30 + k)} < 0.5e0 THEN -1.0e0 ELSE 1.0e0 END)"
        )
        a_k = (
            f"({s_k} * (3.0e0 * _salary + _salary * {normal(40 + k)}))"
        )
        spike_cols.append(f"{t_k} AS _t{k}, {a_k} AS _a{k}")
    spikes = " + ".join(
        f"(CASE WHEN i >= _t{k} THEN _a{k} ELSE 0.0e0 END)"
        for k in range(_N_SPIKES)
    )
    t_i = (
        f"(-{n} / 2.0e0 + CAST(i AS DOUBLE) * {n} / ({n} - 1.0e0))"
    )
    x = f"({two_pi} * {t_i} / {_CYCLE_PERIOD!r} + _phase)"
    frac = f"(({x}) / {two_pi} - floor(({x}) / {two_pi}))"
    saw = f"(2.0e0 * {frac} - 1.0e0)"
    square = f"(CASE WHEN {frac} < 0.5e0 THEN 1.0e0 ELSE -1.0e0 END)"
    seasonal = (
        f"(CASE _choice "
        f"WHEN 0 THEN 0.5e0 * _salary * sin({x}) "
        f"WHEN 1 THEN -0.5e0 * _salary * {saw} "
        f"WHEN 2 THEN _salary * abs({saw}) - 1.0e0 "
        f"ELSE 0.5e0 * _salary * {square} END)"
    )
    trend_ts = (
        f"(_sign * _salary * exp(_trend_exp * CAST(i AS DOUBLE)"
        f" / ({n} - 1.0e0)))"
    )
    noise = (
        f"(_noise_sd * _salary * {duckdb_normal_pair(seed, 50, 'i')})"
    )
    val = duckdb_bround(
        f"{seasonal} + {trend_ts} + {noise} + {spikes}", 2
    )
    return f"""
gen_params AS (
  SELECT id,
         {salary} AS _salary,
         {trend_exp} AS _trend_exp,
         {noise_sd} AS _noise_sd,
         {sign} AS _sign,
         {phase} AS _phase,
         {choice} AS _choice,
         {', '.join(spike_cols)}
  FROM range({n_series}) t(id)
),
gen_vals AS (
  SELECT id, _choice, i, CAST({val} AS FLOAT) AS v
  FROM gen_params CROSS JOIN (
    SELECT unnest(range(0, {n})) AS i
  ) days
),
gen AS (
  SELECT id,
         CASE _choice WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 2
              ELSE 3 END AS signal_type,
         array_agg(v ORDER BY i) AS b
  FROM gen_vals GROUP BY id, _choice
)"""
