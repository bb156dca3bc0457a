"""Range join (bucketed point-in-interval) + ANN coverage: oracle match
for the range-join queries, operator-level range-join checks, and
recall floors for the registry's ANN queries at bench scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_matches_oracle, duck_connection
from time_series_prediction_spark.operators import similarity
from time_series_prediction_spark.operators.rangejoin import range_join
from time_series_prediction_spark.plans.rangejoin_queries import (
    RANGEJOIN_QUERIES,
)
from time_series_prediction_spark.sources.io import read_table


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n, (_, sql) in RANGEJOIN_QUERIES.items() if sql)
)
def test_rangejoin_query_matches_oracle(spark, sf_dir, duck, name):
    fn, sql = RANGEJOIN_QUERIES[name]
    assert_matches_oracle(fn(spark, sf_dir), duck, sql, name=name)


def test_range_join_no_equi_keys_vs_naive(spark):
    """Bucketed range join == naive BETWEEN join on synthetic data,
    including intervals much longer than the bucket (multi-bucket
    expansion) and points on interval boundaries."""
    points = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "pid long, p double"
    )
    intervals = spark.createDataFrame(
        [
            (0, 0.0, 5.0),      # short
            (1, 3.0, 47.0),     # many buckets
            (2, 95.0, 200.0),   # runs past the point domain
            (3, 50.0, 50.0),    # empty (end-exclusive)
            (4, -10.0, 2.0),    # negative start
        ],
        "iid long, s double, e double",
    )
    got = (
        range_join(points, intervals, "p", "s", "e", bucket_width=8.0)
        .groupBy("iid")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pid").alias("sp"))
        .orderBy("iid")
        .collect()
    )
    naive = (
        points.join(
            intervals, (F.col("p") >= F.col("s")) & (F.col("p") < F.col("e"))
        )
        .groupBy("iid")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pid").alias("sp"))
        .orderBy("iid")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in naive]
    # end-inclusive variant picks up the boundary point
    inc = (
        range_join(
            points, intervals, "p", "s", "e", bucket_width=8.0, end_inclusive=True
        )
        .where(F.col("iid") == 3)
        .count()
    )
    assert inc == 1


def test_range_join_plan_has_no_nested_loop(spark):
    """The scale contract: bucket expansion turns the interval join
    into an equi join — no BroadcastNestedLoopJoin in the plan."""
    points = spark.range(10).select(
        F.col("id").alias("pid"), (F.col("id") * 1.0).alias("p")
    )
    intervals = spark.range(3).select(
        F.col("id").alias("iid"),
        (F.col("id") * 3.0).alias("s"),
        (F.col("id") * 3.0 + 4).alias("e"),
    )
    plan = range_join(
        points, intervals, "p", "s", "e", bucket_width=4.0
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# recall floors at BENCH scale (sf0.1) for the registry ANN queries
# ---------------------------------------------------------------------------

_BENCH_SF = "/root/testdata/sf0.1"


@pytest.mark.parametrize(
    "name,k,floor",
    [
        # measured at sf0.1: 0.88 / 0.70 / 0.72 on the near-uniform
        # fixture (the partition-ANN worst case); floors leave slack
        # for fixture regeneration, not for regressions
        ("embedding_lsh_ann", 10, 0.75),
        ("embedding_ivf_ann", 5, 0.60),
        ("embedding_pq_ann", 5, 0.60),
    ],
)
def test_ann_recall_floor_at_bench_scale(spark, name, k, floor):
    """Every rows-only ANN registry query carries a quantitative
    quality bound AT THE SCALE THE BENCH RUNS, not only at the small
    test fixture: recall@k vs the brute-force cosine top-k over the
    sf0.1 embeddings, with the registry's own operating points."""
    import __spark_entry__ as entrymod

    emb = read_table(spark, _BENCH_SF, "embeddings")
    exact = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 10), k=k
    )
    e = {(r["query_id"], r["corpus_id"]) for r in exact.collect()}
    approx = entrymod.queries()[name](spark, _BENCH_SF)
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= floor, f"{name} recall@{k} {recall:.2f} < {floor}"
