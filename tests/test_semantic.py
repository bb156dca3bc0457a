"""SemDeDup cluster pruning + hard-negative mining quality pins."""

from __future__ import annotations

import pyspark.sql.functions as F

from time_series_prediction_spark.operators import similarity
from time_series_prediction_spark.plans.semantic_queries import (
    _assigned,
    _prune_pairs_from,
    dedup_semantic_prune,
    embedding_hard_negatives,
)
from time_series_prediction_spark.sources.io import read_table


def _brute_pairs(spark, sf_dir, tau):
    """All near-twin pairs by exact quantized cosine (no blocking)."""
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", similarity.quantize("embedding").alias("qv")
    ).withColumn(
        "nrm",
        F.expr("sqrt(CAST(aggregate(qv, 0L, (a, v) -> a + v * v) AS DOUBLE))"),
    )
    dot = F.expr(
        "CAST(aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L, "
        "(acc, v) -> acc + v) AS DOUBLE)"
    )
    return (
        q.alias("a")
        .join(q.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("kept_id"),
            F.col("b.vec_id").alias("pruned_id"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
    )


def test_semantic_prune_pairs_are_true_near_twins(spark, sf_dir):
    """Soundness: every pruned pair must be a genuine cosine>=tau pair
    (clustering may MISS cross-cell pairs, never invent ones)."""
    emb = read_table(spark, sf_dir, "embeddings")
    got = {
        (r.kept_id, r.pruned_id)
        for r in _prune_pairs_from(_assigned(emb, 16), 0.30).collect()
    }
    truth = {
        (r.kept_id, r.pruned_id)
        for r in _brute_pairs(spark, sf_dir, 0.30).collect()
    }
    assert got <= truth
    # and the blocking must retain a usable share of the real pairs
    if truth:
        assert len(got) / len(truth) >= 0.10, (len(got), len(truth))


def test_semantic_prune_summary_is_consistent(spark, sf_dir):
    rows = dedup_semantic_prune(spark, sf_dir).collect()
    emb_n = read_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_vecs for r in rows) == emb_n
    for r in rows:
        assert 0 <= r.n_pruned < r.n_vecs or (r.n_pruned == 0 and r.n_vecs >= 1)


def test_semantic_prune_is_deterministic(spark, sf_dir):
    a = sorted(map(tuple, dedup_semantic_prune(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup_semantic_prune(spark, sf_dir).collect()))
    assert a == b


def test_hard_negatives_cross_label_only(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    out = embedding_hard_negatives(spark, sf_dir).collect()
    assert len(out) > 0
    for r in out:
        assert labels[r.query_id] != labels[r.corpus_id]
        assert 1 <= r.rank <= 5


def test_hard_negatives_are_the_exact_cross_label_topk(spark, sf_dir):
    """The mining is exact brute force: per query, its negatives must
    be the global cross-label top-5 by cosine (verified against the
    unrestricted exact top-k, filtered)."""
    emb = read_table(spark, sf_dir, "embeddings")
    full = similarity.cosine_topk(
        emb, emb.where(F.col("vec_id") < 10), k=emb.count()
    )
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    want: dict[int, list[int]] = {}
    for r in sorted(full.collect(), key=lambda r: (r.query_id, r.rank)):
        if labels[r.query_id] != labels[r.corpus_id]:
            want.setdefault(r.query_id, [])
            if len(want[r.query_id]) < 5:
                want[r.query_id].append(r.corpus_id)
    got: dict[int, list[int]] = {}
    for r in sorted(
        embedding_hard_negatives(spark, sf_dir).collect(),
        key=lambda r: (r.query_id, r.rank),
    ):
        got.setdefault(r.query_id, []).append(r.corpus_id)
    assert got == want


def test_semantic_prune_matches_oracle_exactly(spark, sf_dir):
    """Round-7 graduation: the whole SemDeDup pipeline — exact-integer
    Lloyd training included — replays bit-for-bit in DuckDB (zero
    float tolerance; the driver's t2 gate hashes values)."""
    import numpy as np
    import pandas as pd

    from tests.oracle_harness import _normalize, duck_connection
    from time_series_prediction_spark.plans.semantic_queries import (
        DEDUP_SEMANTIC_SQL,
    )

    con = duck_connection(sf_dir)
    got = _normalize(dedup_semantic_prune(spark, sf_dir).toPandas())
    want = _normalize(con.execute(DEDUP_SEMANTIC_SQL).df())
    con.close()
    assert got.shape == want.shape
    assert got.shape[0] > 0
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        eq = (g == w) | (pd.isna(g) & pd.isna(w))
        assert np.all(eq), (c, got[~eq].head(), want[~eq].head())


def test_lloyd_assignment_has_no_python_stage(spark, sf_dir):
    """The exact-Lloyd assignment must be pure JVM expressions — no
    Arrow/pandas stage anywhere (the round-6 IVF path paid one)."""
    emb = read_table(spark, sf_dir, "embeddings")
    from time_series_prediction_spark.operators.kmeans_exact import (
        lloyd_assign,
    )

    plan = (
        lloyd_assign(emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
