"""Exact-accumulator statistics queries: the Pearson correlation
matrix over lineitem's measures in ONE scan.

Built-in ``F.corr`` is the production path, but its streaming
co-moment accumulation is order-dependent in the last ulps, so a
DuckDB oracle can never hash-match it. This takes the registry's
exact-integer route instead: every measure is integerized (quantity,
cents, percent points), all five sufficient statistics per pair
(n, Σx, Σy, Σx², Σy², Σxy) are accumulated EXACTLY in DECIMAL(38,0)
(per-row products fit int64; the 600k-row sums exceed it, hence the
decimal accumulator — DuckDB's SUM over DECIMAL(38,0) is likewise
exact), and the final Pearson ratio is ONE fixed-shape double
expression over those exact sums — deterministic in both engines
(IEEE-754 correctly-rounded *, -, /, sqrt on identical operands).

Scale shape: a single whole-stage-codegen scan with map-side partial
aggregation into one 1-row state — at 100 TB this is one pass and one
1-row exchange; the stacked long-format output is driver-free. The
correlation of ALL pairs rides in the same pass (no per-pair rescan).

Beyond-reference scope: the reference computes no cross-measure
statistics (its R² is a per-model score, reference
``notebooks/utils.py:502-538``); this is engine-side EDA surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_prediction_spark.plans.text_queries import QueryFn
from time_series_prediction_spark.sources.io import read_table

_MEASURES = {
    "qty": "CAST(round(l_quantity) AS BIGINT)",
    "price_cents": "CAST(round(l_extendedprice * 100) AS BIGINT)",
    "disc_pct": "CAST(round(l_discount * 100) AS BIGINT)",
    "tax_pct": "CAST(round(l_tax * 100) AS BIGINT)",
}
_PAIRS = [
    ("qty", "price_cents"),
    ("qty", "disc_pct"),
    ("price_cents", "disc_pct"),
    ("disc_pct", "tax_pct"),
]


def _corr_expr(a: str, b: str) -> str:
    """Pearson r from exact decimal sufficient statistics — the SAME
    textual expression is used on both engines so every double op has
    identical operands in identical order."""
    n = "CAST(n AS DOUBLE)"
    return (
        f"({n} * CAST(sp_{a}_{b} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))"
        f" / (sqrt({n} * CAST(ss_{a} AS DOUBLE)"
        f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))"
        f" * sqrt({n} * CAST(ss_{b} AS DOUBLE)"
        f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))"
    )


def lineitem_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All-pairs Pearson correlations of lineitem's measures from one
    exact-accumulator scan, long format (pair, n, corr)."""
    li = read_table(spark, sf_dir, "lineitem").selectExpr(
        *[f"{e} AS {c}" for c, e in _MEASURES.items()]
    )
    # r15 (guide §2.3 narrower types, re-measured after r14's rejection
    # turned out to be a count()-pruned mis-measurement): each exact
    # DECIMAL(38,0) sum is accumulated as THREE int64 limb sums of the
    # int64 per-row product p — p & (2²¹−1), (p>>21) & (2²¹−1), p>>42 —
    # and reconstructed to the IDENTICAL decimal afterwards
    # (s = l0 + l1·2²¹ + l2·2⁴²; partial sums stay under int64 to ~2⁴¹
    # rows, comfortably past 100 TB). The split is exact for signed p
    # too: ``>>`` is an arithmetic shift (floor division by 2²¹), so
    # the two masked limbs are non-negative and the top limb p >> 42
    # carries the sign. Noop-sink A/B at sf0.1: 0.61–0.69 s (decimal) →
    # 0.42–0.44 s (limbs), stats verified value-identical, so every
    # downstream corr double sees bit-identical operands.
    _names = (
        [f"s_{c}" for c in _MEASURES]
        + [f"ss_{c}" for c in _MEASURES]
        + [f"sp_{a}_{b}" for a, b in _PAIRS]
    )
    _exprs = (
        list(_MEASURES)
        + [f"{c} * {c}" for c in _MEASURES]
        + [f"{a} * {b}" for a, b in _PAIRS]
    )
    _m21 = (1 << 21) - 1
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for nm, ex in zip(_names, _exprs):
        aggs.append(F.sum(F.expr(f"({ex}) & {_m21}")).alias(f"{nm}_l0"))
        aggs.append(
            F.sum(F.expr(f"(({ex}) >> 21) & {_m21}")).alias(f"{nm}_l1")
        )
        aggs.append(F.sum(F.expr(f"({ex}) >> 42")).alias(f"{nm}_l2"))
    stats = li.agg(*aggs).select(
        "n",
        *[
            F.expr(
                f"CAST({nm}_l0 AS DECIMAL(38,0))"
                f" + CAST({nm}_l1 AS DECIMAL(38,0))"
                f" * CAST({1 << 21} AS DECIMAL(38,0))"
                f" + CAST({nm}_l2 AS DECIMAL(38,0))"
                f" * CAST({1 << 42} AS DECIMAL(38,0))"
            ).alias(nm)
            for nm in _names
        ],
    )
    stack_args = ", ".join(
        f"'{a}~{b}', {_corr_expr(a, b)}" for a, b in _PAIRS
    )
    return stats.select(
        "n",
        F.expr(
            f"stack({len(_PAIRS)}, {stack_args}) AS (pair, corr)"
        ),
    ).select("pair", "n", "corr")


def _oracle_sql() -> str:
    meas = ",\n           ".join(
        f"{e} AS {c}" for c, e in _MEASURES.items()
    )
    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for c in _MEASURES:
        sums.append(f"sum(CAST({c} AS DECIMAL(38,0))) AS s_{c}")
        sums.append(f"sum(CAST({c} * {c} AS DECIMAL(38,0))) AS ss_{c}")
    for a, b in _PAIRS:
        sums.append(f"sum(CAST({a} * {b} AS DECIMAL(38,0))) AS sp_{a}_{b}")
    sums_sql = ",\n           ".join(sums)
    selects = "\nUNION ALL\n".join(
        f"SELECT '{a}~{b}' AS pair, n, {_corr_expr(a, b)} AS corr FROM stats"
        for a, b in _PAIRS
    )
    return f"""
WITH base AS (
    SELECT {meas}
    FROM lineitem
),
stats AS (
    SELECT {sums_sql}
    FROM base
)
{selects}
"""


LINEITEM_CORR_SQL = _oracle_sql()


_PERIODS = (2, 3, 5, 7)
_SEAS_EPOCH = "2024-01-01"
_SEAS_MIN_DAYS = 14


def ts_seasonality_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection per user series: for each candidate
    period p the seasonal STRENGTH is the fraction of the daily-cents
    variance explained by the calendar-phase means
    (between-phase SS / total SS — the one-way ANOVA R², the discrete
    analogue of a periodogram peak without transcendental cos/sin),
    and the winner is the strongest period (ties → smaller p).

    Exactness: with P = Π n_g (product of phase counts, ≤ 15⁴ here),
    strength = (n·Σ_g S_g²·(P/n_g) − S²·P) / ((n·Σx² − S²)·P) — every
    term an exact integer (P/n_g is exact because n_g | P; the one
    oversized product rides a DECIMAL(38,0)/HUGEINT accumulator), so
    both engines perform ONE identical double division per (user, p)
    and the argmax over bit-identical doubles agrees.

    Scale shape: daily rollup (one shuffle), ×|periods| phase rollup
    with map-side combine, then per-user tiny-group folds — no
    Python, no self-joins, state per user is |periods|·p cells.

    r14 plan shape: ONE aggregation chain. The per-user totals
    (n, s, ss) are exact-integer sums, so they re-derive from the
    phase rollup of any one period (Σ_g ng = n, Σ_g sg = s,
    Σ_g ssg = ss — regrouping an exact sum) instead of a second
    events→daily→user subtree; and bigp/t fold from the SAME
    (user, p) aggregation via collect_list instead of a separate
    product rollup joined back (the r14 plan audit counted 22
    Exchanges and two full events scans; now one scan, 4 Exchanges;
    guide §2.4 — remove shuffles outright)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
    )
    phased = daily.select(
        "user_id",
        "cents",
        F.explode(
            F.array(*[F.lit(p) for p in _PERIODS])
        ).alias("p"),
        F.expr(f"datediff(day, DATE '{_SEAS_EPOCH}')").alias("_d"),
    ).withColumn("phase", F.expr("_d % p"))
    g = phased.groupBy("user_id", "p", "phase").agg(
        F.sum("cents").cast("long").alias("sg"),
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(F.expr("cents * cents")).cast("long").alias("ssg"),
    )
    g2 = (
        g.groupBy("user_id", "p")
        .agg(
            F.sum("ng").cast("long").alias("n"),
            F.sum("sg").cast("long").alias("s"),
            F.sum("ssg").cast("long").alias("ss"),
            F.collect_list(F.struct("sg", "ng")).alias("cells"),
        )
        .where(F.col("n") >= _SEAS_MIN_DAYS)
        .withColumn(
            "bigp",
            F.expr(
                "aggregate(cells, CAST(1 AS BIGINT),"
                " (acc, c) -> acc * c.ng)"
            ),
        )
        .withColumn(
            "t",
            # exact-integer decimal sum — order-free, identical to the
            # former SUM over the joined rollup
            F.expr(
                "aggregate(cells, CAST(0 AS DECIMAL(38,0)), (acc, c) ->"
                " CAST(acc + CAST(c.sg * c.sg AS DECIMAL(38,0))"
                " * (bigp div c.ng) AS DECIMAL(38,0)))"
            ),
        )
    )
    scored = (
        g2.where(F.expr("n * ss - s * s > 0"))
        .select(
            "user_id",
            "p",
            F.col("n").alias("n_days"),
            F.expr(
                "CAST(CAST(n AS DECIMAL(38,0)) * t"
                " - CAST(s * s AS DECIMAL(38,0)) * bigp AS DOUBLE)"
                " / CAST(CAST(n * ss - s * s AS DECIMAL(38,0))"
                " * bigp AS DOUBLE)"
            ).alias("strength"),
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("strength"), F.asc("p")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "user_id",
            F.col("p").cast("long").alias("best_period"),
            "n_days",
            "strength",
        )
    )


def _seasonality_sql() -> str:
    periods = ", ".join(f"({p})" for p in _PERIODS)
    return f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events GROUP BY user_id, CAST(ts AS DATE)
),
u AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS s,
           CAST(sum(cents * cents) AS BIGINT) AS ss
    FROM daily GROUP BY user_id
    HAVING count(*) >= {_SEAS_MIN_DAYS}
),
phased AS (
    SELECT d.user_id, d.cents, t.p,
           (d.day - DATE '{_SEAS_EPOCH}') % t.p AS phase
    FROM daily d CROSS JOIN (VALUES {periods}) t(p)
),
g AS (
    SELECT user_id, p, phase,
           CAST(sum(cents) AS BIGINT) AS sg,
           CAST(count(*) AS BIGINT) AS ng
    FROM phased GROUP BY user_id, p, phase
),
pp AS (
    SELECT user_id, p,
           list_reduce(
               list_prepend(CAST(1 AS HUGEINT),
                            list(CAST(ng AS HUGEINT))),
               (acc, x) -> acc * x
           ) AS bigp
    FROM g GROUP BY user_id, p
),
tt AS (
    SELECT g.user_id, g.p,
           sum(CAST(g.sg AS HUGEINT) * g.sg * (pp.bigp // g.ng)) AS t,
           max(pp.bigp) AS bigp
    FROM g JOIN pp ON pp.user_id = g.user_id AND pp.p = g.p
    GROUP BY g.user_id, g.p
),
scored AS (
    SELECT tt.user_id, tt.p, u.n AS n_days,
           CAST(CAST(u.n AS HUGEINT) * tt.t
                - CAST(u.s * u.s AS HUGEINT) * tt.bigp AS DOUBLE)
             / CAST(CAST(u.n * u.ss - u.s * u.s AS HUGEINT)
                    * tt.bigp AS DOUBLE) AS strength
    FROM tt JOIN u ON u.user_id = tt.user_id
    WHERE u.n * u.ss - u.s * u.s > 0
),
ranked AS (
    SELECT user_id, p, n_days, strength,
           row_number() OVER (
               PARTITION BY user_id ORDER BY strength DESC, p ASC
           ) AS rk
    FROM scored
)
SELECT user_id, CAST(p AS BIGINT) AS best_period, n_days, strength
FROM ranked WHERE rk = 1
"""


TS_SEASONALITY_SQL = _seasonality_sql()


_XC_LAGS = (0, 1, 2, 3)
_XC_A, _XC_B = "click", "purchase"


def ts_crosscorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click and purchase
    revenue series (does click volume LEAD purchases?): Pearson r of
    (click_t, purchase_{t+lag}) for lags 0–3 — the lead-lag scan every
    forecasting pipeline runs before picking exogenous features.

    Same exactness contract as the correlation matrix: integer cents,
    exact bigint sufficient statistics per lag, one fixed-shape
    double expression shared with the oracle."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin(_XC_A, _XC_B))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    a = daily.where(F.col("event_type") == _XC_A).select(
        F.expr("datediff(day, DATE '2024-01-01')").alias("d"),
        F.col("cents").alias("x"),
    )
    b = daily.where(F.col("event_type") == _XC_B).select(
        F.expr("datediff(day, DATE '2024-01-01')").alias("d"),
        F.col("cents").alias("y"),
    )
    lagged = a.select(
        "d",
        "x",
        F.explode(F.array(*[F.lit(lg) for lg in _XC_LAGS])).alias("lag"),
    ).join(
        b.withColumnRenamed("d", "_bd"),
        F.expr("_bd = d + lag"),
    )
    stats = lagged.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("y * y")).cast("long").alias("syy"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    corr = (
        "(CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    return stats.select(
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        F.expr(corr).alias("crosscorr"),
    )


TS_CROSSCORR_SQL = f"""
WITH daily AS (
    SELECT (CAST(ts AS DATE) - DATE '2024-01-01') AS d, event_type,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    WHERE event_type IN ('{_XC_A}', '{_XC_B}')
    GROUP BY 1, 2
),
a AS (SELECT d, cents AS x FROM daily WHERE event_type = '{_XC_A}'),
b AS (SELECT d, cents AS y FROM daily WHERE event_type = '{_XC_B}'),
lagged AS (
    SELECT t.lag, a.x, b.y
    FROM a CROSS JOIN (VALUES {", ".join(f"({lg})" for lg in _XC_LAGS)})
         t(lag)
    JOIN b ON b.d = a.d + t.lag
),
stats AS (
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM lagged GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_days,
       (CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        * sqrt(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS crosscorr
FROM stats
"""


_JCE_MOD = 16


def join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate-query-processing join synopsis: estimate the size
    of the lineitem⋈lineitem self-join on ``l_partkey`` (the
    co-purchase pair explosion an optimizer must anticipate) from a
    1/16 KEY-correlated sample — keys are sampled by md5 hash, so
    matching rows survive sampling TOGETHER, the known fix for why
    independent row samples estimate joins terribly (join of two p
    samples keeps only p² of pairs; a key sample keeps p). The
    deterministic hash makes the whole estimator replayable: est =
    16 · Σ_{sampled keys} n_k², exact = Σ_k n_k², both from one
    groupBy synopsis, no join ever materialized.

    At 100 TB this synopsis (distinct keys × count) is what you
    persist per table to cost joins before running them; the sampled
    variant is what you compute when even the synopsis is too wide."""
    li = read_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    agg = counts.agg(
        F.sum(F.expr("n * n")).cast("long").alias("exact_pairs"),
        (
            F.sum(
                F.expr(
                    "CASE WHEN CAST(conv(substr(md5(CAST(l_partkey"
                    f" AS STRING)), 1, 7), 16, 10) AS BIGINT)"
                    f" % {_JCE_MOD} = 0 THEN n * n ELSE 0 END"
                )
            )
            * _JCE_MOD
        ).cast("long").alias("est_pairs"),
    )
    return agg.select(
        "exact_pairs",
        "est_pairs",
        F.expr(
            "(CAST(est_pairs AS DOUBLE) - CAST(exact_pairs AS DOUBLE))"
            " / CAST(exact_pairs AS DOUBLE)"
        ).alias("rel_err"),
    )


JOIN_CARD_SQL = f"""
WITH counts AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_partkey
),
agg AS (
    SELECT CAST(sum(n * n) AS BIGINT) AS exact_pairs,
           CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(l_partkey
                    AS VARCHAR)), 1, 7))::BIGINT % {_JCE_MOD} = 0
                    THEN n * n ELSE 0 END) * {_JCE_MOD} AS BIGINT)
             AS est_pairs
    FROM counts
)
SELECT exact_pairs, est_pairs,
       (CAST(est_pairs AS DOUBLE) - CAST(exact_pairs AS DOUBLE))
         / CAST(exact_pairs AS DOUBLE) AS rel_err
FROM agg
"""


_AB_SEED = "ab-2024"

# the z-statistic scalar, written ONCE and evaluated verbatim in both
# engines over the one aggregate row (identical IEEE op sequence —
# sums are exact BIGINTs, so the divisions and the sqrt see identical
# operands)
_AB_Z_EXPR = (
    "((CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE))"
    " - (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)))"
    " / sqrt((CAST(conv_t + conv_c AS DOUBLE)"
    "         / CAST(n_t + n_c AS DOUBLE))"
    "        * (1.0e0 - (CAST(conv_t + conv_c AS DOUBLE)"
    "                    / CAST(n_t + n_c AS DOUBLE)))"
    "        * (1.0e0 / CAST(n_t AS DOUBLE)"
    "           + 1.0e0 / CAST(n_c AS DOUBLE)))"
)


def events_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout — the analysis every experimentation
    platform runs on an event stream: users are assigned to
    treatment/control by a DETERMINISTIC hash split (first hex char of
    md5(user_id:seed) < '8' ⇒ treatment — reproducible on any engine
    and stable across reruns, unlike seeded RNG), the conversion
    metric is "made ≥1 purchase above 150" (non-degenerate at every
    fixture scale — plain any-purchase saturates), and the readout is
    per-arm counts,
    rates, the absolute lift, and the pooled two-proportion
    z-statistic.

    Oracle-exactness: arm sizes and conversions are exact BIGINTs from
    one conditional aggregate; every rate/lift/z double op is one
    shared expression string evaluated over that single row in both
    engines (identical IEEE sequence, sqrt included).

    Scale shape: one per-user aggregate (map-side combine) carrying a
    max() conversion flag, then a 1-row conditional reduce — the
    cheapest possible experiment readout; nothing about it changes at
    100 TB."""
    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    assigned = per_user.withColumn(
        "variant",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(f":{_AB_SEED}"),
                    )
                ),
                1,
                1,
            )
            < "8",
            F.lit("T"),
        ).otherwise(F.lit("C")),
    )
    agg = assigned.agg(
        F.sum(F.when(F.col("variant") == "C", 1).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("variant") == "T", 1).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(
            F.when(F.col("variant") == "C", F.col("converted")).otherwise(0)
        )
        .cast("long")
        .alias("conv_c"),
        F.sum(
            F.when(F.col("variant") == "T", F.col("converted")).otherwise(0)
        )
        .cast("long")
        .alias("conv_t"),
    )
    return agg.select(
        "n_c",
        "n_t",
        "conv_c",
        "conv_t",
        F.expr(
            "CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)"
        ).alias("rate_c"),
        F.expr(
            "CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)"
        ).alias("rate_t"),
        F.expr(
            "(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE))"
            " - (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))"
        ).alias("abs_lift"),
        F.expr(_AB_Z_EXPR).alias("z_score"),
    )


EVENTS_AB_SQL = f"""
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 150
                  THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
),
assigned AS (
  SELECT converted,
         CASE WHEN substring(
                md5(CAST(user_id AS VARCHAR) || ':{_AB_SEED}'), 1, 1
              ) < '8'
              THEN 'T' ELSE 'C' END AS variant
  FROM per_user
),
agg AS (
  SELECT
    CAST(sum(CASE WHEN variant = 'C' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
    CAST(sum(CASE WHEN variant = 'T' THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
    CAST(sum(CASE WHEN variant = 'C' THEN converted ELSE 0 END)
         AS BIGINT) AS conv_c,
    CAST(sum(CASE WHEN variant = 'T' THEN converted ELSE 0 END)
         AS BIGINT) AS conv_t
  FROM assigned
)
SELECT n_c, n_t, conv_c, conv_t,
       CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS rate_c,
       CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS rate_t,
       (CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE))
         - (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) AS abs_lift,
       {_AB_Z_EXPR} AS z_score
FROM agg
"""


STATS_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "events_ab_experiment": (
        events_ab_experiment,
        EVENTS_AB_SQL,
    ),
    "join_cardinality_estimate": (
        join_cardinality_estimate,
        JOIN_CARD_SQL,
    ),
    "ts_crosscorr_lags": (
        ts_crosscorr_lags,
        TS_CROSSCORR_SQL,
    ),
    "ts_seasonality_detect": (
        ts_seasonality_detect,
        TS_SEASONALITY_SQL,
    ),
    "lineitem_correlation_matrix": (
        lineitem_correlation_matrix,
        LINEITEM_CORR_SQL,
    ),
}
