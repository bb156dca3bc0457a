"""Oracle-backed portable-sketch queries.

The sketch algebra lives in operators/sketch_portable.py; each query
here runs ONE generated SQL text in Spark (over a temp view of the
parquet table) while the driver runs the IDENTICAL text in DuckDB
(over its pre-registered view of the same parquet) — the strongest
form of the repo's oracle discipline: not merely "same answer", but
the same arithmetic, engine-portably deterministic by construction
(see the module docstring for the bit-exactness argument).

The engine-native twins keep their production roles and rows-only
checks: ``events_dau_sketch_rollup`` (datasketches ``hll_sketch_agg``
partials — serialized register blobs a warehouse would persist) and
``lineitem_quantiles_approx`` (Greenwald-Khanna, tighter error).
These portable queries pin the ALGORITHM family the driver could
never check there: hash → register fold → merge → bias-corrected
estimate, value-hash-verified end to end.

No counterpart in the reference repo (its cardinality/quantile needs
are pandas on collected frames); this is part of the engine's 100 TB
analytics surface. Plan shape at scale: both sketches reduce the
shuffle to fixed-size state — m registers (HLL) or ≤ ~600 histogram
cells (quantiles) per group — with map-side partial MAX/COUNT doing
the heavy fold before the exchange.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.sketch_portable import (
    portable_hll_daily_sql,
    portable_hll_estimate_sql,
    portable_hll_group_registers_sql,
    portable_hll_overlap_from_regs_sql,
    portable_hll_overlap_sql,
    portable_hll_registers_sql,
    portable_quantile_sql,
)
from time_series_prediction_spark.sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# oracle texts read the driver's DuckDB views; the Spark texts read
# prefixed temp views (a bare "events" temp view would shadow any
# same-named catalog table for the rest of the session). Identical
# arithmetic either way — only the FROM identifier differs.
# m=1024 registers (RSE 1.04/sqrt(m) ~ 3.25%): the fixtures' per-day
# cardinalities (~1.3K at sf0.1) then fall in the LINEAR-COUNTING
# branch, clear of raw-HLL's classic bias hump at n/m ~ 2.5-5 that
# m=256 put them in (observed +8% mean bias at sf0.1 - round 10).
# 1K registers/day is still metadata; both engines generate the SQL
# from the same builder, so the oracle stays bit-identical.
_HLL_M = 1024

APPROX_DISTINCT_SQL = portable_hll_daily_sql("events", m=_HLL_M)
DAU_ROLLUP_SQL = portable_hll_daily_sql("events", m=_HLL_M, shard_mod=8)
QUANTILE_PORTABLE_SQL = portable_quantile_sql("lineitem")
TYPE_OVERLAP_SQL = portable_hll_overlap_sql("events", m=_HLL_M)
_APPROX_DISTINCT_SPARK = portable_hll_daily_sql("_psk_events", m=_HLL_M)
_DAU_ROLLUP_SPARK = portable_hll_daily_sql("_psk_events", m=_HLL_M, shard_mod=8)
_QUANTILE_PORTABLE_SPARK = portable_quantile_sql("_psk_lineitem")


def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily approximate distinct users via the portable HLL (m=1024,
    mid-square double hash chain, linear-counting small-range branch).

    Replaces the round-7 ``approx_count_distinct`` implementation so
    the sketch graduates from rows-only to value-hash oracle-backed;
    Spark's engine-native aggregate remains a drop-in where
    cross-engine verifiability is not required (and is demonstrated by
    events_dau_sketch_rollup). Accuracy vs exact distinct is pinned at
    every fixture scale in tests/test_sketch_portable.py (≤ 2.2σ of
    the m=1024 RSE on the fixtures' dense id space).

    Scale: one scan → map-side partial MAX into ≤ 256×days register
    cells → exchange of that fixed-size state only. The raw user ids
    never shuffle.
    """
    read_table(spark, sf_dir, "events").createOrReplaceTempView("_psk_events")
    return spark.sql(_APPROX_DISTINCT_SPARK)


def events_dau_portable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable-sketch fold: per-(day, user_id%8) HLL
    register partials, re-MAXed per day, then estimated — the
    incremental-maintenance pattern (persist tiny per-shard partials;
    a new batch folds its registers in without rescanning history;
    partials roll up to any coarser grain).

    MAX-of-MAX associativity makes the two-level fold bit-identical to
    approx_distinct_users_daily's flat fold — asserted in tests AND by
    this query's oracle (the same two-level SQL in DuckDB), so the
    merge's losslessness is value-hash-verified, not just bounded.
    """
    read_table(spark, sf_dir, "events").createOrReplaceTempView("_psk_events")
    return spark.sql(_DAU_ROLLUP_SPARK)


def lineitem_quantiles_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p25/p50/p75/p95 of l_extendedprice per returnflag from the
    portable log-linear histogram (base-2 octaves × 16 linear
    sub-buckets ⇒ ≤ 6.25% relative error, pinned vs exact percentiles
    in tests). Single scan → ≤ ~600-cell histogram per group →
    cumulative-count bucket lookup; the raw prices never shuffle or
    sort. Engine-native GK twin: lineitem_quantiles_approx."""
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_psk_lineitem"
    )
    return spark.sql(_QUANTILE_PORTABLE_SPARK)


def events_type_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types via HLL
    inclusion-exclusion (|A∩B| ≈ est A + est B − est A∪B; union =
    register MAX-merge) — the sketch-algebra answer to the question
    corpus_source_overlap answers exactly for documents. At 100 TB
    the exact form needs a distinct self-join per pair over raw ids;
    this touches the raw data once and derives EVERY pairwise
    combination from g×256 register rows. Accuracy vs exact overlaps
    pinned in tests; the oracle value-hash-checks the full algebra
    (hash → registers → merge → estimator → inclusion-exclusion).

    r14: the Spark side materializes the register fold ONCE and runs
    the overlap algebra over the pinned g×m rows — Spark's planner
    inlines multiply-referenced CTEs, so the one-text form re-planned
    the full hash-chain scan per reference (12 scans, 88 Exchanges in
    the r14 plan audit; guide §2.4). The DuckDB oracle keeps the
    single text (it materializes shared CTEs itself); both halves of
    the split are token-identical fragments of it, so estimates stay
    bit-identical."""
    from time_series_prediction_spark.operators.materialize import (
        materialize,
    )

    read_table(spark, sf_dir, "events").createOrReplaceTempView("_psk_events")
    regs = materialize(
        spark.sql(
            portable_hll_group_registers_sql("_psk_events", m=_HLL_M)
        ),
        eager=False,
    )
    regs.createOrReplaceTempView("_psk_overlap_regs")
    return spark.sql(
        portable_hll_overlap_from_regs_sql("_psk_overlap_regs", m=_HLL_M)
    )


# ---------------------------------------------------------------------------
# incremental register maintenance: the steady-state 100 TB pattern
# ---------------------------------------------------------------------------

# layout builds run through operators/mview.ensure_artifact — the
# engine's single build-once protocol (lock -> _IDENT -> tmp build ->
# atomic publish), one implementation to test for races
from time_series_prediction_spark.operators.mview import ensure_artifact


def _registers_layout(spark: SparkSession, sf_dir: str) -> str:
    """Stream the events fixture through a foreachBatch sink that
    maintains the portable-HLL register table INCREMENTALLY: each
    micro-batch hashes only its own rows into (day, bucket, rho)
    partials and MAX-folds them into the persisted state — the raw
    history is never rescanned, and the state stays ≤ 256×days rows
    however much data has streamed through. Built once per fixture
    content under the shared temp cache (identity = source path +
    size + mtime + spec), atomically published."""
    from time_series_prediction_spark.sources.fsops import fs_for

    spec = f"dau_regs_v2|m={_HLL_M}"
    src = os.path.join(sf_dir, "events.parquet")
    fs = fs_for(spark, tempfile.gettempdir())
    st = fs.status(src)
    if st is None:
        raise FileNotFoundError(src)
    ident = f"{fs.qualified(src)}|{st[0]}|{st[1]}|{spec}"
    key = hashlib.md5(ident.encode()).hexdigest()[:16]
    path = os.path.join(
        tempfile.gettempdir(), "tsp_layouts", f"dau_regs_{key}"
    )
    def _build(tmp: str) -> None:
        ev = read_table(spark, sf_dir, "events")
        inbox = os.path.join(tmp, "_inbox")
        ev.repartition(8).write.mode("overwrite").parquet(inbox)
        state = os.path.join(tmp, "state")

        def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
            sp = batch_df.sparkSession
            batch_df.createOrReplaceTempView("_dau_inc_batch")
            partial = sp.sql(
                portable_hll_registers_sql("_dau_inc_batch", m=_HLL_M)
            )
            cur = os.path.join(state, "current")
            if fs.exists(os.path.join(cur, "_SUCCESS")):
                partial = (
                    sp.read.parquet(cur)
                    .unionByName(partial)
                    .groupBy("day", "bucket")
                    .agg(F.max("rho").alias("rho"))
                )
            nxt = os.path.join(state, f"gen-{batch_id}")
            partial.coalesce(1).write.mode("overwrite").parquet(nxt)
            # atomic swap: the reader only ever sees a complete state
            old = os.path.join(state, f"prev-{batch_id}")
            if fs.exists(cur):
                if not fs.rename(cur, old):
                    raise RuntimeError(f"state swap failed: {cur}")
            if not fs.rename(nxt, cur):
                raise RuntimeError(f"state swap failed: {nxt}")
            fs.delete(old)

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inbox)
        )
        q = (
            stream.writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", os.path.join(tmp, "_ck"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    ensure_artifact(spark, path, ident, _build)
    return path


def events_dau_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily DAU estimates read from the INCREMENTALLY maintained
    register table (built by streaming the fixture batch-by-batch;
    each batch folded only itself into ≤ 256×days rows of state).

    The oracle is ``portable_hll_daily_sql`` flat over the RAW events
    — so the driver value-hash-proves the steady-state contract:
    incremental maintenance over arbitrary batch boundaries produces
    BIT-identical estimates to a full recompute, because register
    MAX-folds are associative and the estimator is deterministic
    arithmetic. This is the sketch-layer sibling of
    orders_cow_view_maintenance's fold==recompute oracle."""
    path = _registers_layout(spark, sf_dir)
    spark.read.parquet(os.path.join(path, "state", "current")) \
        .createOrReplaceTempView("_psk_dau_regs")
    return spark.sql(portable_hll_estimate_sql("_psk_dau_regs", m=_HLL_M))


def corpus_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates for the exact top-15 corpus
    tokens: (token, n_exact, n_cms) with the CMS one-sided guarantee
    n_cms ≥ n_exact baked into the output (and pinned in tests).

    The sketch is d×w = 4×512 exact-integer counters (md5-prefix token
    hash + seeded arithmetic row hashes — cms_perms,
    operators/sketch_portable.py), so the whole pipeline — build,
    probe, min-over-rows — replays bit-identically in DuckDB: hashes
    are the MinHash construction's, counters are exact counts, the
    estimate is an integer MIN. Only the hex→int cast differs by
    dialect (Spark ``conv``, DuckDB ``::BIGINT`` on a 0x literal).

    Scale shape: the sketch build is one token scan folded map-side
    into ≤ d·w = 2048 cells (fixed size regardless of corpus — the
    whole point of CMS at 100 TB: the counter table, not the
    vocabulary, crosses the exchange); the probe side is 15×4 rows
    broadcast against those cells. The exact counts exist only to
    exhibit the error bound on the fixture; production reads the
    sketch alone."""
    from time_series_prediction_spark.operators.sketch_portable import (
        CMS_WIDTH,
        cms_bucket_sql,
        cms_perms,
    )

    from time_series_prediction_spark.operators.materialize import (
        materialize,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).where(F.col("token") != "")
    # r14 (guide §2.3 — aggregate first): cell counts regroup exactly
    # from per-token counts (c(k,bucket) = Σ count over tokens hashing
    # there), so md5 runs once per DISTINCT vocabulary entry instead of
    # once per occurrence, the corpus is tokenized once (the counts
    # relation is pinned for its two consumers), and only vocabulary-
    # sized rows flow into the sketch fold.
    counts = materialize(
        toks.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("n_exact")
        ),
        eager=False,
    )
    hashed = counts.select(
        "n_exact",
        F.expr(
            "CAST(conv(substr(md5(token), 1, 7), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    perms = cms_perms()
    cells = hashed.select(
        "n_exact",
        F.posexplode(
            F.array(
                *[F.expr(cms_bucket_sql("h", a, b)) for a, b in perms]
            )
        ).alias("k", "bucket"),
    )
    sketch = cells.groupBy("k", "bucket").agg(
        F.sum("n_exact").cast("long").alias("c")
    )
    cand = (
        counts.orderBy(F.desc("n_exact"), F.asc("token"))
        .limit(15)
    )
    cand_cells = cand.select(
        "token",
        "n_exact",
        F.expr(
            "CAST(conv(substr(md5(token), 1, 7), 16, 10) AS BIGINT)"
        ).alias("h"),
    ).select(
        "token",
        "n_exact",
        F.posexplode(
            F.array(
                *[F.expr(cms_bucket_sql("h", a, b)) for a, b in perms]
            )
        ).alias("k", "bucket"),
    )
    return (
        cand_cells.join(F.broadcast(sketch), ["k", "bucket"])
        .groupBy("token", "n_exact")
        .agg(F.min("c").cast("long").alias("n_cms"))
    )


def _cms_sql() -> str:
    from time_series_prediction_spark.operators.sketch_portable import (
        cms_bucket_sql,
        cms_perms,
    )

    perms = cms_perms()
    h_duck = "(('0x' || substr(md5(token), 1, 7))::BIGINT)"
    cell_rows = "\n  UNION ALL\n".join(
        f"  SELECT {k} AS k, {cms_bucket_sql('h', a, b)} AS bucket FROM hv"
        for k, (a, b) in enumerate(perms)
    )
    probe_rows = "\n  UNION ALL\n".join(
        f"  SELECT token, n_exact, {k} AS k,"
        f" {cms_bucket_sql('h', a, b)} AS bucket FROM cand_h"
        for k, (a, b) in enumerate(perms)
    )
    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), t AS (
  SELECT token FROM toks WHERE token <> ''
), hv AS (
  SELECT {h_duck} AS h FROM t
), cells AS (
{cell_rows}
), sketch AS (
  SELECT k, bucket, CAST(count(*) AS BIGINT) AS c
  FROM cells GROUP BY k, bucket
), cand AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_exact
  FROM t GROUP BY token
  ORDER BY n_exact DESC, token ASC LIMIT 15
), cand_h AS (
  SELECT token, n_exact, {h_duck} AS h FROM cand
), probe AS (
{probe_rows}
)
SELECT p.token, p.n_exact, CAST(min(s.c) AS BIGINT) AS n_cms
FROM probe p JOIN sketch s ON s.k = p.k AND s.bucket = p.bucket
GROUP BY p.token, p.n_exact
"""


CMS_HEAVY_HITTERS_SQL = _cms_sql()


def _latency_subquery(dialect: str) -> str:
    """view→next-purchase latency seconds per user, one window pass.
    The IGNORE NULLS spelling and epoch/µs functions are the ONLY
    dialect differences; the quantile machinery downstream is the
    shared portable text."""
    if dialect == "spark":
        us, ign, idiv = "unix_micros(ts)", ") IGNORE NULLS", "div"
        src = "_psk_events"
    else:
        us, ign, idiv = "epoch_us(ts)", " IGNORE NULLS)", "//"
        src = "events"
    fv = (
        f"first_value(CASE WHEN event_type = 'purchase' THEN {us} END"
        f"{ign} OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)"
    )
    return (
        f"(SELECT 'all' AS grp, (p_us - u) {idiv} 1000000 AS lat_s "
        f"FROM (SELECT event_type, {us} AS u, {fv} AS p_us "
        f"FROM {src}) w "
        "WHERE event_type = 'view' AND p_us IS NOT NULL) tlat"
    )


def _funnel_latency_sql(dialect: str) -> str:
    return portable_quantile_sql(
        _latency_subquery(dialect),
        value_expr="lat_s",
        group_col="grp",
        qs=(0.5, 0.9, 0.99),
    )


def events_funnel_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """View→purchase conversion-latency P50/P90/P99 through the
    portable log-linear histogram: the funnel-latency SLO readout,
    mergeable at 100 TB because only the ≤ 16·40-cell histogram
    crosses the exchange — never the raw latencies. Values are
    (bucket lower bound)/100 in seconds·10⁻², relative error ≤ 1/16;
    oracle = the same generated SQL over DuckDB's events view (only
    the epoch/µs and IGNORE-NULLS spellings differ by dialect)."""
    read_table(spark, sf_dir, "events").createOrReplaceTempView(
        "_psk_events"
    )
    return spark.sql(_funnel_latency_sql("spark"))


SKETCH_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "events_funnel_latency_quantiles": (
        events_funnel_latency_quantiles,
        _funnel_latency_sql("duck"),
    ),
    "corpus_cms_heavy_hitters": (
        corpus_cms_heavy_hitters,
        CMS_HEAVY_HITTERS_SQL,
    ),
    "approx_distinct_users_daily": (
        approx_distinct_users_daily,
        APPROX_DISTINCT_SQL,
    ),
    "events_dau_portable_rollup": (events_dau_portable_rollup, DAU_ROLLUP_SQL),
    # oracle = flat recompute: proves incremental fold == full pass
    "events_dau_incremental": (events_dau_incremental, APPROX_DISTINCT_SQL),
    "lineitem_quantiles_portable": (
        lineitem_quantiles_portable,
        QUANTILE_PORTABLE_SQL,
    ),
    "events_type_overlap_sketch": (
        events_type_overlap_sketch,
        TYPE_OVERLAP_SQL,
    ),
}
