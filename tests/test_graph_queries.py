"""Integer PageRank over the basket-adjacency graph: oracle parity,
float-PageRank agreement, and shuffle-order independence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_matches_oracle, duck_connection
from time_series_prediction_spark.plans.graph_queries import (
    PART_PAGERANK_SQL,
    part_basket_pagerank,
)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_pagerank_matches_oracle(spark, sf_dir, duck):
    assert_matches_oracle(
        part_basket_pagerank(spark, sf_dir),
        duck,
        PART_PAGERANK_SQL,
        name="part_basket_pagerank",
    )


def test_pagerank_agrees_with_float_reference(spark, sf_dir):
    """The integer-division rank must track a plain float PageRank on
    the same graph: every returned top-20 part sits in the float
    top-40 (integer truncation can only reorder near-ties), and rank
    values stay in (0, 1e9]."""
    import duckdb

    got = part_basket_pagerank(spark, sf_dir).collect()
    assert len(got) == 20
    for r in got:
        assert 0 < r["rank_nano"] <= 1_000_000_000

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf_dir}/lineitem.parquet'"
    )
    edges = con.execute(
        """
        WITH adj AS (
          SELECT l_partkey AS src,
                 lead(l_partkey) OVER (
                     PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey) AS dst
          FROM lineitem)
        SELECT src, dst, count(*) AS w FROM (
          SELECT src, dst FROM adj WHERE dst IS NOT NULL AND dst <> src
          UNION ALL
          SELECT dst, src FROM adj WHERE dst IS NOT NULL AND dst <> src)
        GROUP BY src, dst
        """
    ).fetchall()
    wdeg: dict[int, float] = {}
    for s, _, w in edges:
        wdeg[s] = wdeg.get(s, 0.0) + w
    nodes = sorted(wdeg)
    n = len(nodes)
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(3):
        s: dict[int, float] = {u: 0.0 for u in nodes}
        for a, b, w in edges:
            s[b] += rank[a] * w / wdeg[a]
        rank = {u: 0.15 / n + 0.85 * s[u] for u in nodes}
    float_top = [
        u for u, _ in sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))
    ][:40]
    for r in got:
        assert r["p_partkey"] in float_top, r


def test_pagerank_partitioning_independent(spark, sf_dir):
    """All arithmetic is integer (order-free), so any input
    partitioning must produce the identical answer."""
    a = [tuple(r) for r in part_basket_pagerank(spark, sf_dir).collect()]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = [
            tuple(r) for r in part_basket_pagerank(spark, sf_dir).collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b


def test_new_analytics_plans_stay_jvm_side(spark, sf_dir):
    """Journey/stats/graph queries: no Python eval stages, no
    cartesian products, no nested-loop joins anywhere."""
    from time_series_prediction_spark.plans.journey_queries import (
        JOURNEY_QUERIES,
    )
    from time_series_prediction_spark.plans.stats_queries import (
        STATS_QUERIES,
    )
    from time_series_prediction_spark.plans.graph_queries import (
        GRAPH_QUERIES,
    )

    for name, (fn, _) in {
        **JOURNEY_QUERIES, **STATS_QUERIES, **GRAPH_QUERIES
    }.items():
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        for marker in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "CartesianProduct",
            "BroadcastNestedLoopJoin",
        ):
            assert marker not in plan, (name, marker)


def test_association_rules_oracle_and_wide_basket_guard(
    spark, sf_dir, duck
):
    """TPC-H baskets (≤ 7 items) sail under the width cap, so the
    guarded plan equals the unguarded oracle; a synthetic pathological
    basket is truncated to the cap before the half-matrix explode, so
    one wide row can never expand quadratically."""
    from time_series_prediction_spark.plans.graph_queries import (
        BASKET_RULES_SQL,
        association_rules,
        basket_association_rules,
    )

    assert_matches_oracle(
        basket_association_rules(spark, sf_dir),
        duck,
        BASKET_RULES_SQL,
        name="basket_association_rules",
    )

    # one 200-item basket + a few normal ones
    rows = [(0, i) for i in range(200)]
    rows += [(b, i) for b in (1, 2, 3) for i in range(b, b + 4)]
    items = spark.createDataFrame(rows, "basket long, item long")
    cap = 16
    got = association_rules(
        items, "basket", "item", min_support=1, top_k=10_000,
        max_basket_width=cap,
    )
    # pairs from the wide basket are bounded by cap*(cap-1)/2, never
    # 200*199/2; items 1..6 co-occur in the small baskets too
    wide_only_pairs = got.where("n_pair = 1").count()
    assert wide_only_pairs <= cap * (cap - 1) // 2
    assert got.count() <= cap * (cap - 1) // 2 + 3 * 6
    # truncation keeps the globally most frequent items: items 1..6
    # appear in 2+ baskets, so the surviving wide-basket items must
    # include them (frequency-desc cut)
    kept_x = {r["x"] for r in got.collect()} | {
        r["y"] for r in got.collect()
    }
    assert {1, 2, 3, 4, 5, 6} <= kept_x


def test_triangle_count_matches_brute_force(spark, sf_dir):
    """Recompute the induced-subgraph triangles with an independent
    pure-Python set enumeration (adjacency sets, no SQL shape shared
    with either engine) and check every reported row: degree, triangle
    participation, and clustering coefficient."""
    from itertools import combinations

    from time_series_prediction_spark.plans.graph_queries import (
        _TRI_PANEL,
        part_triangle_count,
    )
    from time_series_prediction_spark.sources.io import read_table

    got = part_triangle_count(spark, sf_dir).collect()
    assert 0 < len(got) <= 20

    li = {
        (r["l_orderkey"], r["l_partkey"])
        for r in read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    }
    from collections import Counter

    freq = Counter(p for _, p in li)
    panel = set(
        p
        for p, _ in sorted(
            freq.items(), key=lambda kv: (-kv[1], kv[0])
        )[:_TRI_PANEL]
    )
    baskets: dict[int, set[int]] = {}
    for o, p in li:
        if p in panel:
            baskets.setdefault(o, set()).add(p)
    adj: dict[int, set[int]] = {}
    for ps in baskets.values():
        for a, b in combinations(sorted(ps), 2):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    tri_per_node: Counter = Counter()
    for a in adj:
        for b in adj[a]:
            if b <= a:
                continue
            for c in adj[a] & adj[b]:
                if c > b:
                    for n in (a, b, c):
                        tri_per_node[n] += 1
    ranked = sorted(
        tri_per_node.items(), key=lambda kv: (-kv[1], kv[0])
    )
    want_top = ranked[: len(got)]
    assert [(r["part_key"], r["n_triangles"]) for r in got] == want_top
    for r in got:
        d = len(adj[r["part_key"]])
        assert r["degree"] == d
        assert r["clustering"] == 2 * r["n_triangles"] / (d * (d - 1))
