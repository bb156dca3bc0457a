"""Oracle checks for relational batch 6 (q7/q13/q15/q16/q17/q19) and
the approximate-quantile error bound."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_matches_oracle, duck_connection
from time_series_prediction_spark.plans.relational3 import (
    RELATIONAL3_QUERIES,
    lineitem_quantiles_approx,
)
from time_series_prediction_spark.sources.io import read_table


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n, (_, sql) in RELATIONAL3_QUERIES.items() if sql)
)
def test_relational3_matches_oracle(spark, sf_dir, duck, name):
    fn, sql = RELATIONAL3_QUERIES[name]
    assert_matches_oracle(fn(spark, sf_dir), duck, sql, name=name)


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    """GK-sketch quantiles within 1% rank error of exact (accuracy
    parameter 10000 ⇒ 1/10000 rank error bound; we assert a loose
    value-space bound against numpy exact quantiles)."""
    got = {
        r["l_returnflag"]: [r["p25"], r["p50"], r["p75"], r["p95"]]
        for r in lineitem_quantiles_approx(spark, sf_dir).collect()
    }
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).toPandas()
    for flag, approx in got.items():
        vals = np.sort(li[li.l_returnflag == flag].l_extendedprice.to_numpy())
        for q, a in zip([0.25, 0.5, 0.75, 0.95], approx):
            # GK guarantees a value whose RANK is within eps*n of target
            target = q * (len(vals) - 1)
            lo = vals[max(0, int(np.floor(target)) - max(2, len(vals) // 100))]
            hi = vals[min(len(vals) - 1, int(np.ceil(target)) + max(2, len(vals) // 100))]
            assert lo <= a <= hi, (flag, q, a, lo, hi)


def test_q19_plan_keeps_equi_join(spark, sf_dir):
    """The disjunctive predicate must not degrade the join to a
    nested loop: l_partkey=p_partkey is a conjunct of every branch."""
    fn, _ = RELATIONAL3_QUERIES["q19_disjunctive_revenue"]
    plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cooccurrence_dict_cap_fallback_identical(spark, sf_dir):
    """r15 cap-with-fallback (VERDICT r14 Next #5): with the driver
    dictionary disabled (cap=0) part_type_cooccurrence runs the
    distributed row_number dictionary and returns EXACTLY the same
    rows in the same order as the driver-map path."""
    from time_series_prediction_spark.plans.relational3 import (
        TYPE_DICT_CAP_CONF,
        part_type_cooccurrence,
    )

    fast = [tuple(r) for r in part_type_cooccurrence(spark, sf_dir).collect()]
    spark.conf.set(TYPE_DICT_CAP_CONF, "0")
    try:
        slow = [
            tuple(r) for r in part_type_cooccurrence(spark, sf_dir).collect()
        ]
    finally:
        spark.conf.unset(TYPE_DICT_CAP_CONF)
    assert fast == slow
    assert len(fast) > 0
