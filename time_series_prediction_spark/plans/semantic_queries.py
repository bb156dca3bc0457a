"""Semantic-embedding curation queries: SemDeDup-style cluster
pruning and contrastive hard-negative mining.

Beyond-reference scope — the two embedding-space operations an LLM
training-data pipeline runs beside near-dup removal:

* ``dedup_semantic_prune`` — SemDeDup (Abbas et al. 2023,
  arXiv:2303.09540): k-means the corpus into cells, then inside each
  cell drop every vector that has a higher-priority near-twin
  (cosine ≥ τ). Clustering is the blocking device: pair cost is
  bounded by cell occupancy (corpus²/k in expectation), never
  corpus². At 100 TB, k grows with the corpus (n_cells ∝ √n keeps
  cells constant-size) and centroids train on a bounded deterministic
  sample, so the only full-corpus stages are one assignment map and
  one equi-join on cell id — the same shape MinHash-LSH uses with
  band buckets. Since round 7 the clustering is the exact-integer
  Lloyd of ``operators/kmeans_exact.py`` — reproducible ACROSS
  engines, so the whole pipeline (training included, unrolled as
  CTEs) is DuckDB-oracle-backed; soundness against brute-force
  cosine stays pinned in tests/test_semantic.py.

* ``embedding_hard_negatives`` — for each query vector, the top-k
  most-similar corpus vectors with a DIFFERENT label: the classic
  hard-negative mining step for contrastive/embedding training.
  Exact quantized cosine (integer dot products — bit-identical in
  DuckDB) → fully oracle-backed. Queries broadcast; the corpus scan
  stays shuffle-free until the per-query top-k exchange, so the
  plan is the brute-force ANN baseline's with a label predicate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from time_series_prediction_spark.operators import kmeans_exact, similarity
from time_series_prediction_spark.sources.io import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_N_CELLS = 16
_TAU = 0.35
_NEG_K = 5


def _assigned(
    emb: DataFrame, n_cells: int, cache_key: str | None = None
) -> DataFrame:
    """Materialized (vec_id, qv, nrm, cell) assignment frame shared by
    every downstream use (pair join sides AND membership counts).
    Cells come from the cross-engine-deterministic exact-integer Lloyd
    (``operators/kmeans_exact.py``) — no Python stage anywhere in the
    plan, and the identical procedure unrolls into the DuckDB oracle
    below. ``cache_key`` additionally memoizes the sample
    collect+train per corpus (shared with the exact IVF/PQ ANN
    queries)."""
    return kmeans_exact.lloyd_assign(
        emb, n_cells=n_cells, cache_key=cache_key
    )


def _prune_pairs_from(q: DataFrame, tau: float) -> DataFrame:
    """(kept_id, pruned_id, cell, cosine) pairs: within each k-means
    cell, every vector whose cosine to a SMALLER-id cellmate reaches
    ``tau`` is pruned in favor of that cellmate (deterministic
    keep-lowest-id policy — SemDeDup keeps one representative per
    near-twin set; id order stands in for its 'keep the prototype'
    choice and makes reruns reproducible).

    Pairing is an equi-join on cell id over one materialized
    assignment frame ``q`` (both join sides share its scan);
    per-vector norms are precomputed so each candidate pair pays one
    integer dot product."""
    dot = F.expr(
        "CAST(aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L, "
        "(acc, v) -> acc + v) AS DOUBLE)"
    )
    return (
        q.alias("a")
        .join(
            q.alias("b"),
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("kept_id"),
            F.col("b.vec_id").alias("pruned_id"),
            F.col("a.cell").alias("cell"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
    )


def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell SemDeDup summary: cell id, members, pruned count.

    The aggregate (not the raw pair list) is the registry surface so
    the result is stable under pair-order: n_pruned counts DISTINCT
    pruned ids, matching 'corpus rows removed by semantic dedup'.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    q = _assigned(emb, _N_CELLS, cache_key=sf_dir)
    pruned = _prune_pairs_from(q, _TAU).groupBy("cell").agg(
        F.countDistinct("pruned_id").cast("long").alias("n_pruned")
    )
    members = q.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    return (
        members.join(pruned, "cell", "left")
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vecs",
            F.coalesce("n_pruned", F.lit(0)).cast("long").alias("n_pruned"),
        )
    )


def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cross-label nearest corpus vectors for the first 10
    vectors as queries (hard negatives for contrastive training)."""
    emb = read_table(spark, sf_dir, "embeddings")
    # bounded panel in-closure of one vectorized corpus pass
    # (similarity.panel_cosine_scores): identical pairs + arithmetic,
    # interpreted per-pair folds → one exact int64 matmul per batch
    scored = similarity.panel_cosine_scores(
        emb,
        emb.where(F.col("vec_id") < 10),
        exclude="label",
        label_col="label",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _NEG_K)
        .select(
            "query_id", "corpus_id", "cosine", F.col("rank").cast("int").alias("rank")
        )
    )


_EMB_DIMS = 64  # driver fixture embedding width (all scale factors)


def _semantic_prune_sql(dims: int = _EMB_DIMS) -> str:
    """DuckDB oracle for ``dedup_semantic_prune``: the exact-integer
    Lloyd procedure unrolled as CTEs (``kmeans_exact.lloyd_cells_sql``
    — training included, not a snapshot of trained centroids), then
    the same cell self-join, exact-int cosine, and per-cell rollup."""
    return (
        kmeans_exact.lloyd_cells_sql(dims, n_cells=_N_CELLS)
        + f"""
, prn AS (
  SELECT a.cell AS cell, b.vec_id AS pruned_id
  FROM final a JOIN final b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, {dims + 1}), i -> a.qv[i] * b.qv[i])),
          (acc, v) -> acc + v) AS DOUBLE)
        / (a.nrm * b.nrm) >= {_TAU}
), pruned AS (
  SELECT cell, CAST(count(DISTINCT pruned_id) AS BIGINT) AS n_pruned
  FROM prn GROUP BY cell
), members AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs FROM final GROUP BY cell
)
SELECT CAST(m.cell AS INTEGER) AS cell,
       m.n_vecs AS n_vecs,
       CAST(coalesce(p.n_pruned, 0) AS BIGINT) AS n_pruned
FROM members m LEFT JOIN pruned p USING (cell)
"""
    )


DEDUP_SEMANTIC_SQL = _semantic_prune_sql()


_QVEC = "list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1048576) AS BIGINT))"

EMBEDDING_HARD_NEGATIVES_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, {_QVEC} AS qvec
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS corpus_id, label AS corpus_label, {_QVEC} AS cvec
  FROM embeddings
), scored AS (
  SELECT query_id, corpus_id,
         CAST(list_sum(list_transform(range(1, len(qvec) + 1),
                                      i -> qvec[i] * cvec[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(qvec, v -> v * v)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(cvec, v -> v * v)) AS DOUBLE)))
           AS cosine
  FROM c, q WHERE corpus_label != query_label
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
WHERE rank <= {_NEG_K}
"""


SEMANTIC_QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "dedup_semantic_prune": (dedup_semantic_prune, DEDUP_SEMANTIC_SQL),
    "embedding_hard_negatives": (
        embedding_hard_negatives,
        EMBEDDING_HARD_NEGATIVES_SQL,
    ),
}
