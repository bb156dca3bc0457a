"""Relational query layer over the TPC-H-ish fixture star schema.

The reference's own relational surface is minimal (one crossJoin,
projection, cast, sample — SURVEY §2.2-2.3); Spark's DataFrame API
supplies the full relational algebra. This module declares the
engine's headline relational queries, each as

    (spark, sf_dir) -> DataFrame        (idiomatic Catalyst plan)
    + an equivalent ANSI-SQL oracle string (DuckDB-runnable)

kept side-by-side so column names and value determinism stay aligned —
the driver's correctness gate hashes values after sorting columns by
name.

Scale notes baked into the plans:
* region/nation are O(10²) rows at any scale factor → always
  ``F.broadcast`` them: the join becomes a map-side hash probe, no
  shuffle of the fact table.
* customer/supplier/part grow with SF → left to AQE, which converts
  sort-merge → broadcast at runtime when the built side is small, and
  splits skewed partitions.
* Aggregations are expressed as single groupBy chains so Catalyst
  plans partial (map-side) aggregation before the exchange.
* Filters use native column predicates (never UDFs) so they push into
  the parquet scan (check: .explain shows PushedFilters).

Cross-engine float determinism: double summation is order-dependent,
so a sum over shuffled partitions is not bit-reproducible — and Spark
(BigDecimal HALF_UP on the shortest decimal repr) and DuckDB (C-style)
even round doubles differently at ties. All money columns in the
fixtures carry ≤2 decimal places, so every monetary aggregate here is
computed in EXACT integer cents (bigint): per-row ``round(x*100)`` is
exact (input is within 1e-9 of an integer), bigint sums are
associative, and the single final division by a power of ten is one
deterministic IEEE-754 op. No ``round()`` is ever applied to an
accumulated double.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_prediction_spark.sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]


def _cents(col: str | Column) -> Column:
    """Exact integer representation of a ≤2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


# SQL twin of _cents for the DuckDB oracle strings.
def _sql_cents(expr: str) -> str:
    return f"CAST(round({expr} * 100) AS BIGINT)"


# ---------------------------------------------------------------------------
# TPC-H-flavored analytics
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: pricing summary report (scan + group-agg, 8 aggregates).

    Single wide aggregation: Catalyst plans partial_hashagg → exchange
    on (returnflag, linestatus) → final hashagg; only 7 of 11 lineitem
    columns are read (column pruning) and the shipdate filter pushes
    into the scan. Money sums in exact integer cents (see module doc).
    """
    li = read_table(spark, sf_dir, "lineitem")
    e = _cents("l_extendedprice")  # cents
    d = _cents("l_discount")  # hundredths
    t = _cents("l_tax")  # hundredths
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("_sq"),  # integer-valued doubles: exact
            F.sum(e).alias("_se"),
            F.sum(e * (100 - d)).alias("_sdp"),
            F.sum(e * (100 - d) * (100 + t)).alias("_sc"),
            F.sum(d).alias("_sd"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").alias("sum_qty"),
            (F.col("_se") / 100.0).alias("sum_base_price"),
            (F.col("_sdp") / 1e4).alias("sum_disc_price"),
            (F.col("_sc") / 1e6).alias("sum_charge"),
            (F.col("_sq") / F.col("count_order")).alias("avg_qty"),
            (F.col("_se") / (100.0 * F.col("count_order"))).alias("avg_price"),
            (F.col("_sd") / (100.0 * F.col("count_order"))).alias("avg_disc"),
            "count_order",
        )
    )


Q1_SQL = f"""
WITH t AS (
  SELECT l_returnflag, l_linestatus,
         sum(l_quantity)                                     AS _sq,
         sum({_sql_cents('l_extendedprice')})                AS _se,
         sum({_sql_cents('l_extendedprice')}
             * (100 - {_sql_cents('l_discount')}))           AS _sdp,
         sum({_sql_cents('l_extendedprice')}
             * (100 - {_sql_cents('l_discount')})
             * (100 + {_sql_cents('l_tax')}))                AS _sc,
         sum({_sql_cents('l_discount')})                     AS _sd,
         count(*)                                            AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2000-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       _sq                              AS sum_qty,
       CAST(_se  AS DOUBLE) / 100.0     AS sum_base_price,
       CAST(_sdp AS DOUBLE) / 1e4       AS sum_disc_price,
       CAST(_sc  AS DOUBLE) / 1e6       AS sum_charge,
       _sq / count_order                AS avg_qty,
       CAST(_se AS DOUBLE) / (100.0 * count_order) AS avg_price,
       CAST(_sd AS DOUBLE) / (100.0 * count_order) AS avg_disc,
       count_order
FROM t
"""


def _revenue_e4() -> Column:
    """sum of extendedprice*(1-discount) in exact 1e-4 dollar units."""
    return F.sum(_cents("l_extendedprice") * (100 - _cents("l_discount")))


_REV_E4_SQL = (
    f"sum({_sql_cents('l_extendedprice')} * (100 - {_sql_cents('l_discount')}))"
)


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped orders by revenue (3-way join + top-k).

    customer is filtered before the join (selective predicate pushes to
    its scan); AQE broadcast-converts the filtered build sides at
    runtime. Deterministic top-k tie-break on l_orderkey.
    """
    cust = read_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-30").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_revenue_e4().alias("_rev"))
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.col("_rev") / 1e4).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST({_REV_E4_SQL} AS DOUBLE) / 1e4 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate  > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by nation where customer and supplier share the
    nation (6-way join). region/nation broadcast explicitly — they are
    constant-size at any SF, so the probe side never shuffles for them.
    """
    region = read_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = read_table(spark, sf_dir, "nation")
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue_e4().alias("_rev"))
        .select("n_name", (F.col("_rev") / 1e4).alias("revenue"))
    )


Q5_SQL = f"""
SELECT n_name, CAST({_REV_E4_SQL} AS DOUBLE) / 1e4 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: forecast revenue change (pure scan-filter-agg).

    All three predicates are native comparisons → pushed to parquet;
    only 4 columns read. The agg is a single global sum: partial sums
    per partition, one-row exchange.
    """
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_cents("l_extendedprice") * _cents("l_discount")).alias("_r"))
        .select((F.col("_r") / 1e4).alias("revenue"))
    )


Q6_SQL = f"""
SELECT CAST(sum({_sql_cents('l_extendedprice')} * {_sql_cents('l_discount')})
            AS DOUBLE) / 1e4 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue on returned items."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_revenue_e4().alias("_rev"))
        .select(
            "c_custkey",
            "c_name",
            "c_acctbal",
            "n_name",
            (F.col("_rev") / 1e4).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST({_REV_E4_SQL} AS DOUBLE) / 1e4 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-flavored: distinct orders per priority for a shipping window
    (join + count-distinct; distinct agg = two-phase exchange)."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_orderkey").alias("order_count"))
    )


PRIORITY_SQL = """
SELECT o_orderpriority, count(DISTINCT o_orderkey) AS order_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
"""


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price (window + filter).

    Classic top-k-per-group: row_number over partitioned window; the
    single shuffle partitions by custkey. o_totalprice passes through
    untouched (raw doubles compare exactly); rank cast to int on both
    engines (DuckDB's row_number is BIGINT)."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey,
       o_totalprice        AS totalprice,
       CAST(rn AS INTEGER) AS rn
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer account rollup over region → nation (hierarchical
    grouping sets). Spark's rollup == SQL GROUP BY ROLLUP."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("_sb"),
        )
        .select(
            "r_name",
            "n_name",
            "n_customers",
            (F.col("_sb") / 100.0).alias("total_acctbal"),
        )
    )


NATION_ROLLUP_SQL = f"""
SELECT r_name, n_name, count(*) AS n_customers,
       CAST(sum({_sql_cents('c_acctbal')}) AS DOUBLE) / 100.0 AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets coverage: order counts + totals across every
    combination of (priority, status)."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents("o_totalprice")).alias("_st"),
        )
        .select(
            "o_orderpriority",
            "o_orderstatus",
            "n_orders",
            (F.col("_st") / 100.0).alias("total_price"),
        )
    )


ORDERS_CUBE_SQL = f"""
SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
       CAST(sum({_sql_cents('o_totalprice')}) AS DOUBLE) / 100.0 AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8-flavored: each nation's share of yearly revenue (join + agg +
    window-normalized ratio). The share window reuses the groupBy
    output — no extra shuffle beyond the agg exchange. Revenue and the
    share denominator are exact bigint sums, so the ratio is a single
    deterministic double division."""
    nation = read_table(spark, sf_dir, "nation")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.year("o_orderdate").alias("o_year"), F.col("n_name").alias("nation")
        )
        .agg(_revenue_e4().alias("_rev"))
    )
    w = Window.partitionBy("o_year")
    return rev.select(
        "o_year",
        "nation",
        (F.col("_rev") / 1e4).alias("revenue"),
        (F.col("_rev") / F.sum("_rev").over(w)).alias("share"),
    )


MARKET_SHARE_SQL = f"""
WITH rev AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         n_name                             AS nation,
         {_REV_E4_SQL}                      AS _rev
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY year(o_orderdate), n_name
)
SELECT o_year, nation,
       CAST(_rev AS DOUBLE) / 1e4 AS revenue,
       CAST(_rev AS DOUBLE) / CAST(sum(_rev) OVER (PARTITION BY o_year) AS DOUBLE) AS share
FROM rev
"""


def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers that never placed an URGENT order."""
    cust = read_table(spark, sf_dir, "customer")
    urgent = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


CUSTOMERS_WITHOUT_URGENT_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def repeat_high_value_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-op coverage: customers with an URGENT order over 100k AND a
    LOW order over 100k (INTERSECT distinct semantics)."""
    orders = read_table(spark, sf_dir, "orders")
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 100000)
    ).select("o_custkey")
    low = orders.where(
        (F.col("o_orderpriority") == "5-LOW") & (F.col("o_totalprice") > 100000)
    ).select("o_custkey")
    return urgent.intersect(low)


REPEAT_HIGH_VALUE_SQL = """
SELECT o_custkey FROM orders
WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 100000
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderpriority = '5-LOW' AND o_totalprice > 100000
"""


def parts_price_by_brand_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed dimension aggregate: avg retail price per (brand,
    size-decile bucket). Bucket uses floor division — Spark's int cast
    truncates but DuckDB's rounds, so floor() keeps them aligned."""
    part = read_table(spark, sf_dir, "part")
    return (
        part.withColumn("size_bucket", F.floor(F.col("p_size") / 10).cast("int"))
        .groupBy("p_brand", "size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(_cents("p_retailprice")).alias("_sp"),
        )
        .select(
            "p_brand",
            "size_bucket",
            "n_parts",
            (F.col("_sp") / (100.0 * F.col("n_parts"))).alias("avg_price"),
        )
    )


PARTS_PRICE_SQL = f"""
SELECT p_brand,
       CAST(floor(p_size / 10) AS INTEGER) AS size_bucket,
       count(*)                            AS n_parts,
       CAST(sum({_sql_cents('p_retailprice')}) AS DOUBLE)
         / (100.0 * count(*))              AS avg_price
FROM part
GROUP BY p_brand, CAST(floor(p_size / 10) AS INTEGER)
"""

# ---------------------------------------------------------------------------
# Events-table analytics (time-bucketed + sessionization)
# ---------------------------------------------------------------------------


def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event aggregates (date_trunc bucketing)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents("value")).alias("_sv"),
        )
        .select(
            "hour",
            "event_type",
            "n_events",
            (F.col("_sv") / 100.0).alias("total_value"),
            (F.col("_sv") / (100.0 * F.col("n_events"))).alias("avg_value"),
        )
    )


EVENTS_HOURLY_SQL = f"""
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*)               AS n_events,
       CAST(sum({_sql_cents('value')}) AS DOUBLE) / 100.0 AS total_value,
       CAST(sum({_sql_cents('value')}) AS DOUBLE) / (100.0 * count(*)) AS avg_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: split each user's event stream on >30-min gaps
    (lag + cumulative-sum window pattern), then per-session stats.

    Two windows over the same (user_id, ts) partitioning → single
    shuffle; Catalyst reuses the sort. Duration kept in exact
    microseconds (bigint) for hash-stable comparison."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    with_session = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
            F.sum(_cents("value")).alias("_sv"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            "duration_us",
            (F.col("_sv") / 100.0).alias("session_value"),
        )
    )


EVENTS_SESSIONIZATION_SQL = f"""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM gaps
)
SELECT user_id, session_id,
       count(*) AS n_events,
       epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
       CAST(sum({_sql_cents('value')}) AS DOUBLE) / 100.0 AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct-user counts (date bucket + count distinct)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


DAILY_ACTIVE_SQL = """
SELECT CAST(ts AS DATE) AS day,
       count(DISTINCT user_id) AS dau,
       count(*) AS n_events
FROM events
GROUP BY CAST(ts AS DATE)
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

#: name -> (query fn, oracle SQL or None)
RELATIONAL_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "q5_local_supplier_volume": (q5_local_supplier_volume, Q5_SQL),
    "q6_revenue_change": (q6_revenue_change, Q6_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "priority_order_counts": (priority_order_counts, PRIORITY_SQL),
    "top_orders_per_customer": (top_orders_per_customer, TOP_ORDERS_SQL),
    "nation_rollup": (nation_rollup, NATION_ROLLUP_SQL),
    "orders_cube": (orders_cube, ORDERS_CUBE_SQL),
    "market_share_by_year": (market_share_by_year, MARKET_SHARE_SQL),
    "customers_without_urgent_orders": (
        customers_without_urgent_orders,
        CUSTOMERS_WITHOUT_URGENT_SQL,
    ),
    "repeat_high_value_custkeys": (repeat_high_value_custkeys, REPEAT_HIGH_VALUE_SQL),
    "parts_price_by_brand_bucket": (parts_price_by_brand_bucket, PARTS_PRICE_SQL),
    "events_hourly": (events_hourly, EVENTS_HOURLY_SQL),
    "events_sessionization": (events_sessionization, EVENTS_SESSIONIZATION_SQL),
    "daily_active_users": (daily_active_users, DAILY_ACTIVE_SQL),
}
