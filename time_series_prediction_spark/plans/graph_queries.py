"""Graph analytics: PageRank over the part basket-adjacency graph,
oracle-backed by unrolling the power iteration.

Beside connected components (operators/components.py, the other graph
operator in the registry), this covers the importance-propagation
family: nodes are parts, an edge (a, b, w) counts how often the two
parts appear on ADJACENT lineitems of one order (basket adjacency —
the linear-size projection of the order–part bipartite graph; the
full per-order clique would be width² edges), and rank flows along edges under the
standard 0.85 damping.

Exactness (the registry's integer discipline, applied to an iterative
algorithm): ranks are held as integer NANO-units end to end —
r₀ = 10⁹ div N, each edge contribution is (r·w) div wdeg, and the
damped update is r' = (3·r₀) div 20 + (17·Σcontrib) div 20
(0.15 = 3/20, 0.85 = 17/20 exactly). Not one floating-point operation
exists in the whole computation, so sums are shuffle-order-free and
the THREE unrolled iterations replay verbatim as DuckDB CTEs — the
same fixed-iteration-count trick that made exact-integer Lloyd
(operators/kmeans_exact.py) oracle-checkable.

Scale shape: each iteration is one equi-join of the rank vector to
the edge list plus one map-side-combined aggregate on dst — the
textbook distributed PageRank round (Pregel's shape without the
framework); the edge list is built once from a per-order self-join
linear in the fact table (2 directed edges per adjacent line pair,
never a per-order clique, never a global cross join). At 100 TB you checkpoint the rank
vector between iterations exactly as components.py checkpoints its
label frontier.

No counterpart in the reference repo (its data model is per-customer
cashflow series); this is engine-side analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_prediction_spark.plans.text_queries import QueryFn
from time_series_prediction_spark.sources.io import read_table

_ITERS = 3
_TOPK = 20


def part_basket_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 parts by 3-iteration integer PageRank over the
    basket-adjacency graph (rank desc, part key tie-break).

    The CONVERGED RANK TABLE is a materialized view
    (``operators/mview.refresh_if_stale``) keyed on the lineitem
    source's fingerprint: edge derivation + the three iterations run
    once per source state; every later call (and every downstream
    consumer — top-k here, but joins against part attributes equally)
    reads the parquet back and pays only the sort-limit. Exactly the
    treatment that took the SCD2 dimension from 3 s to 0.3 s warm —
    recomputing a fixed-point iteration per query is the wrong side
    of the storage/compute trade at any scale."""
    import os

    from time_series_prediction_spark.operators.mview import (
        refresh_if_stale,
    )

    ranks, _ = refresh_if_stale(
        spark,
        "part_pagerank",
        lambda s: _pagerank_ranks(s, sf_dir),
        [os.path.join(sf_dir, "lineitem.parquet")],
    )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TOPK)
        .select(
            F.col("node").cast("long").alias("p_partkey"),
            F.col("r").alias("rank_nano"),
        )
    )


def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full (node, rank) table — the mview build body."""
    from time_series_prediction_spark.operators.materialize import (
        materialize,
    )

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    # ONE shuffle builds the edge list: each order's lineitems sorted
    # by line number, adjacent distinct parts linked in both
    # directions (≈ 2·|lineitem| edge instances — linear in the fact
    # table, unlike the width² full co-purchase clique). The oracle
    # derives the SAME edges via a lead() window; the edge multiset
    # is plan-independent.
    # Materialized: three rank iterations re-join these frames — a
    # lazy plan would rebuild the pair explosion every round.
    pair = (
        "filter(flatten(transform(sequence(0, size(ps) - 2), i -> "
        "array(named_struct('src', ps[i].p, 'dst', ps[i + 1].p), "
        "named_struct('src', ps[i + 1].p, 'dst', ps[i].p)))), "
        "e -> e.src != e.dst)"
    )
    edges = materialize(
        li.groupBy("l_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("ln"),
                        F.col("l_partkey").alias("p"),
                    )
                )
            ).alias("ps")
        )
        .where(F.size("ps") >= 2)
        .select(F.explode(F.expr(pair)).alias("e"))
        .groupBy(
            F.col("e.src").alias("src"), F.col("e.dst").alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # symmetric graph: every node has out- and in-edges; wdeg rides
    # ON the edge list (broadcast join paid once at build) so each
    # rank iteration joins exactly ONE small side — the rank vector
    wdeg = edges.groupBy("src").agg(
        F.sum("w").cast("long").alias("wdeg")
    )
    edges = materialize(edges.join(F.broadcast(wdeg), "src"))
    nodes = wdeg.select(F.col("src").alias("node"))
    n_nodes = nodes.count()  # scalar: the rank normalization constant
    r0 = 1_000_000_000 // n_nodes
    base = (3 * r0) // 20
    ranks = nodes.select(
        "node", F.lit(r0).cast("long").alias("r")
    )
    for _ in range(_ITERS):
        contrib = (
            edges.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr("(r * w) div wdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            nodes.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST({base} + (17 * coalesce(s, 0)) div 20 "
                    "AS BIGINT)"
                ).alias("r"),
            )
        )
    return ranks


def _pagerank_sql() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _ITERS + 1):
        iters.append(
            f"""c{i} AS (
  SELECT e.dst AS node,
         CAST(sum((r.r * e.w) // d.wdeg) AS BIGINT) AS s
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN wdeg d ON d.src = e.src
  GROUP BY e.dst
), r{i} AS (
  SELECT n.node,
         CAST((SELECT base FROM consts)
              + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS r
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH adj AS (
  SELECT l_partkey AS src,
         lead(l_partkey) OVER (
             PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
         ) AS dst
  FROM lineitem
),
und AS (
  SELECT src, dst FROM adj WHERE dst IS NOT NULL AND dst <> src
  UNION ALL
  SELECT dst, src FROM adj WHERE dst IS NOT NULL AND dst <> src
),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM und GROUP BY src, dst
),
wdeg AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM edges GROUP BY src
),
nodes AS (
  SELECT src AS node FROM wdeg
),
consts AS (
  SELECT CAST(1000000000 // count(*) AS BIGINT) AS r0,
         CAST((3 * (1000000000 // count(*))) // 20 AS BIGINT) AS base
  FROM nodes
),
r0 AS (
  SELECT node, (SELECT r0 FROM consts) AS r FROM nodes
),
{chain}
SELECT CAST(node AS BIGINT) AS p_partkey, r AS rank_nano
FROM {prev}
ORDER BY r DESC, node ASC
LIMIT {_TOPK}
"""


PART_PAGERANK_SQL = _pagerank_sql()


_AR_MIN_SUPPORT = 2
_AR_TOPK = 15


def association_rules(
    items: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = _AR_MIN_SUPPORT,
    top_k: int = _AR_TOPK,
    max_basket_width: int = 64,
) -> DataFrame:
    """Market-basket association rules (the Apriori 2-itemset stage)
    over an (basket, item) relation: for item pairs co-occurring in
    ≥ ``min_support`` baskets, confidence P(y|x) = n_xy/n_x and lift
    n_xy·N/(n_x·n_y) — top-``top_k`` by lift with total tie-breaks.
    All counts exact integers; each score is one double ratio of
    exact products (well inside int64), so engines rank identical
    doubles.

    Scale shape: the pair counts come from ONE shuffle (per-basket
    sorted distinct item set, i<j combinations exploded locally — the
    half-matrix of the per-basket clique, bounded by basket width²),
    then two broadcast joins of the tiny per-item counts. The
    min-support filter is exactly Apriori's candidate pruning.

    **Wide-basket guard**: one pathological basket (a retail receipt
    with hundreds of items) would expand width² pairs from a single
    row — a quadratic hot spot no shuffle strategy fixes. Baskets
    wider than ``max_basket_width`` are truncated to their
    ``max_basket_width`` globally most frequent items
    (deterministic: frequency desc, item asc — the standard
    FP-growth-style "keep the heavy items" cut, which preserves the
    high-support pairs the min-support filter would keep anyway).
    Only baskets over the cap pay the truncation join."""
    from time_series_prediction_spark.operators.materialize import (
        materialize,
    )

    baskets = materialize(
        items.groupBy(basket_col).agg(
            F.array_sort(F.collect_set(item_col)).alias("ps")
        )
    )
    n_baskets = baskets.count()
    item_n = baskets.select(
        F.explode("ps").alias("item")
    ).groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    wide = baskets.where(F.size("ps") > max_basket_width)
    if not wide.isEmpty():
        from pyspark.sql.window import Window

        capped = (
            wide.select(basket_col, F.explode("ps").alias("item"))
            .join(F.broadcast(item_n), "item")
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(basket_col).orderBy(
                        F.desc("n_item"), F.asc("item")
                    )
                ),
            )
            .where(F.col("_rn") <= max_basket_width)
            .groupBy(basket_col)
            .agg(F.array_sort(F.collect_set("item")).alias("ps"))
        )
        baskets = baskets.where(
            F.size("ps") <= max_basket_width
        ).unionByName(capped)
    combos = (
        "flatten(transform(sequence(0, size(ps) - 2), i -> "
        "transform(slice(ps, i + 2, size(ps) - i - 1), "
        "b -> named_struct('x', ps[i], 'y', b))))"
    )
    pairs = (
        baskets.where(F.size("ps") >= 2)
        .select(F.explode(F.expr(combos)).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= min_support)
    )
    nx = item_n.select(
        F.col("item").alias("x"), F.col("n_item").alias("n_x")
    )
    ny = item_n.select(
        F.col("item").alias("y"), F.col("n_item").alias("n_y")
    )
    scored = (
        pairs.join(F.broadcast(nx), "x")
        .join(F.broadcast(ny), "y")
        .select(
            F.col("x").cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
            "n_pair",
            "n_x",
            "n_y",
            F.expr(
                "CAST(n_pair AS DOUBLE) / CAST(n_x AS DOUBLE)"
            ).alias("confidence"),
            F.expr(
                f"CAST(n_pair * {n_baskets} AS DOUBLE)"
                " / CAST(n_x * n_y AS DOUBLE)"
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("x"), F.asc("y")
    ).limit(top_k)


def basket_association_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules over TPC-H order baskets (≤ 7 lineitems per
    order — far inside the default width cap, so the guard path stays
    dormant and the oracle recomputes the identical pairs).

    The scored rule table is a materialized view keyed on the
    lineitem source fingerprint (same treatment as
    ``part_basket_pagerank``): the basket build + pair explosion run
    once per source state; later calls read the tiny rules parquet
    back. The mined rules are a lookup artifact by nature —
    recomputing the candidate-pair explosion per query is the wrong
    side of the storage/compute trade."""
    import os

    from time_series_prediction_spark.operators.mview import (
        refresh_if_stale,
    )

    def _build(s: SparkSession) -> DataFrame:
        li = read_table(s, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        return association_rules(li, "l_orderkey", "l_partkey")

    rules, _ = refresh_if_stale(
        spark,
        "basket_rules",
        _build,
        [os.path.join(sf_dir, "lineitem.parquet")],
    )
    # the artifact holds the already-ranked top-k; re-apply the
    # deterministic order (parquet read order is not guaranteed)
    return rules.orderBy(F.desc("lift"), F.asc("x"), F.asc("y"))


BASKET_RULES_SQL = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM li
),
item_n AS (
    SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n_item
    FROM li GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS x, b.l_partkey AS y,
           CAST(count(*) AS BIGINT) AS n_pair
    FROM li a JOIN li b
      ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {_AR_MIN_SUPPORT}
)
SELECT CAST(p.x AS BIGINT) AS x, CAST(p.y AS BIGINT) AS y,
       p.n_pair, nx.n_item AS n_x, ny.n_item AS n_y,
       CAST(p.n_pair AS DOUBLE) / CAST(nx.n_item AS DOUBLE)
         AS confidence,
       CAST(p.n_pair * (SELECT n FROM n_orders) AS DOUBLE)
         / CAST(nx.n_item * ny.n_item AS DOUBLE) AS lift
FROM pairs p
JOIN item_n nx ON nx.item = p.x
JOIN item_n ny ON ny.item = p.y
ORDER BY lift DESC, x ASC, y ASC
LIMIT {_AR_TOPK}
"""


_TRI_PANEL = 200  # induced-subgraph node panel (top parts by basket count)


def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficient over the
    co-purchase graph induced by the ``_TRI_PANEL`` most-purchased
    parts: nodes are panel parts, an edge joins two panel parts that
    share at least one order, a triangle is three mutually co-purchased
    parts. Output: the top-20 parts by triangle participation with
    their subgraph degree and local clustering 2T/(d·(d−1)) — the
    cohesion layer of graph analytics, beside importance
    (``part_basket_pagerank``) and connectivity (components).

    Exactness: the panel is a deterministic top-k (basket count desc,
    part key asc), edges/degrees/triangle counts are exact integers,
    and clustering is ONE double division of two exact integers —
    hash-identical across engines.

    Scale shape: the whole-graph triangle join is quadratic-prone on
    heavy nodes, so the operator bounds it the way production graph
    systems do — work on a bounded induced subgraph: the panel is a
    TakeOrdered over one basket aggregate, the fact table is pruned by
    a BROADCAST semi-join on 200 keys before any pair explosion, edges
    are distinct'd id-ordered pairs (each triangle enumerated exactly
    once via x < y < z), and the wedge-closure joins run over the
    metadata-sized edge list. At 100 TB the only full-fact-table cost
    is the scan + one aggregate; for heavy-tailed full-graph variants
    swap the id order for (degree, id) orientation — same plan shape,
    bounded forward adjacency.

    The per-node triangle table is a materialized view keyed on the
    lineitem source fingerprint (the pagerank / association-rule
    treatment): panel selection + pair explosion + closure joins run
    once per source state; later calls read the tiny parquet back and
    pay only the sort-limit."""
    import os

    from time_series_prediction_spark.operators.mview import (
        refresh_if_stale,
    )

    tri, _ = refresh_if_stale(
        spark,
        "part_triangles",
        lambda s: _triangle_table(s, sf_dir),
        [os.path.join(sf_dir, "lineitem.parquet")],
    )
    return (
        tri.orderBy(F.desc("n_triangles"), F.asc("part_key"))
        .limit(20)
        .select("part_key", "degree", "n_triangles", "clustering")
    )


def _triangle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full per-node (part_key, degree, n_triangles, clustering)
    table — the mview build body."""
    from time_series_prediction_spark.operators.materialize import (
        materialize,
    )

    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("l_partkey"))
        .limit(_TRI_PANEL)
        .select(F.col("l_partkey").alias("node"))
    )
    sub = li.join(
        F.broadcast(top), li.l_partkey == top.node
    ).select("l_orderkey", "l_partkey")
    edges = (
        sub.alias("a")
        .join(
            sub.alias("b"),
            (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
            & (F.col("b.l_partkey") > F.col("a.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("x"),
            F.col("b.l_partkey").alias("y"),
        )
        .distinct()
    )
    edges = materialize(edges)  # feeds deg + three triangle-join sides
    deg = (
        edges.select(F.col("x").alias("node"))
        .unionAll(edges.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = (
        edges.alias("e1")
        .join(
            edges.alias("e2"),
            (F.col("e2.x") == F.col("e1.x"))
            & (F.col("e2.y") > F.col("e1.y")),
        )
        .join(
            edges.alias("e3"),
            (F.col("e3.x") == F.col("e1.y"))
            & (F.col("e3.y") == F.col("e2.y")),
        )
        .select(
            F.col("e1.x").alias("u"),
            F.col("e1.y").alias("v"),
            F.col("e2.y").alias("w"),
        )
    )
    members = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return members.join(deg, "node").select(
        F.col("node").cast("long").alias("part_key"),
        "degree",
        "n_triangles",
        F.expr(
            "CAST(2 * n_triangles AS DOUBLE)"
            " / CAST(degree * (degree - 1) AS DOUBLE)"
        ).alias("clustering"),
    )


PART_TRIANGLES_SQL = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
top_parts AS (
    SELECT l_partkey AS node FROM li GROUP BY l_partkey
    ORDER BY count(*) DESC, l_partkey ASC LIMIT {_TRI_PANEL}
),
sub AS (
    SELECT li.l_orderkey, li.l_partkey
    FROM li JOIN top_parts t ON t.node = li.l_partkey
),
edges AS (
    SELECT a.l_partkey AS x, b.l_partkey AS y
    FROM sub a JOIN sub b
      ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT x AS node FROM edges
        UNION ALL SELECT y AS node FROM edges
    ) GROUP BY node
),
tri AS (
    SELECT e1.x AS u, e1.y AS v, e2.y AS w
    FROM edges e1
    JOIN edges e2 ON e2.x = e1.x AND e2.y > e1.y
    JOIN edges e3 ON e3.x = e1.y AND e3.y = e2.y
),
members AS (
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        SELECT u AS node FROM tri
        UNION ALL SELECT v AS node FROM tri
        UNION ALL SELECT w AS node FROM tri
    ) GROUP BY node
)
SELECT CAST(m.node AS BIGINT) AS part_key, d.degree, m.n_triangles,
       CAST(2 * m.n_triangles AS DOUBLE)
         / CAST(d.degree * (d.degree - 1) AS DOUBLE) AS clustering
FROM members m JOIN deg d ON d.node = m.node
ORDER BY n_triangles DESC, part_key ASC
LIMIT 20
"""


GRAPH_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "part_triangle_count": (
        part_triangle_count,
        PART_TRIANGLES_SQL,
    ),
    "part_basket_pagerank": (
        part_basket_pagerank,
        PART_PAGERANK_SQL,
    ),
    "basket_association_rules": (
        basket_association_rules,
        BASKET_RULES_SQL,
    ),
}
