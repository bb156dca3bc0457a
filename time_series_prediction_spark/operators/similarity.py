"""Similarity search over embedding columns (array<float>).

Beyond-reference scope (SURVEY §7.1.8): approximate-nearest-neighbor
over a vector column, the retrieval primitive of a training-data
pipeline (near-dup by embedding, semantic dedup, hard-negative
mining).

* cosine_topk — brute-force baseline: broadcast the (small) query set,
  compute cosine against every corpus vector, window top-k. The corpus
  side never shuffles until the final per-query top-k (k rows per
  query via row_number), so at 100 TB the cost is one scan + tiny
  exchange. Dot products are computed over QUANTIZED components
  (round(v·2^20) as bigint): exact integer arithmetic → results are
  order-independent and reproducible across engines (the DuckDB
  oracle computes the identical quantized cosine), at 1e-6 relative
  quantization error — semantically irrelevant for ANN.
* panel_cosine_scores — the scoring pass under cosine_topk and the
  semantic registry queries.

The approximate registry queries (LSH, IVF, IVF-PQ) run the
exact-integer operators in ``operators/kmeans_exact.py``.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SCALE = 1 << 20  # component quantization: exact in bigint, ~1e-6 rel err


def quantize(vec_col: str) -> Column:
    """array<float> → array<bigint> of round(v * 2^20)."""
    return F.expr(
        f"transform({vec_col}, v -> CAST(round(CAST(v AS DOUBLE) * {_SCALE}) AS BIGINT))"
    )


def panel_cosine_scores(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude: str = "self",
    label_col: str | None = None,
    emit_labels: bool = False,
) -> DataFrame:
    """(query_id, corpus_id, cosine) for every (corpus, panel-query)
    pair that survives the exclusion rule, scored in ONE vectorized
    corpus pass: the BOUNDED query panel is collected once and rides
    in-closure (the broadcast side), each Arrow batch pays a single
    exact int64 matmul (|q·v| ≤ d·2^40 ≪ 2^63 — never rounds), and
    cosine is the identical op sequence the JVM/DuckDB expressions
    use: CAST(int dot AS DOUBLE) / (sqrt(double(‖q‖²)) ·
    sqrt(double(‖v‖²))) — correctly-rounded sqrt/mul/div, so the
    values are bit-identical to the DuckDB oracle's quantized cosine
    (guide §4.2: batch native math instead of interpreted 64-term HOF
    folds per pair).

    ``exclude='self'`` drops corpus_id == query_id pairs;
    ``exclude='label'`` (with ``label_col``) keeps only pairs whose
    corpus label differs from the query label — hard-negative mining.
    Scale: the panel is bounded by contract (the recall-estimation /
    serving protocol), the corpus side is one scan, and the output is
    |panel| rows per corpus row at most — the brute-force baseline's
    unavoidable cost, with no joins and no payload shuffles."""
    import numpy as np
    import pandas as pd

    sel = [F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")]
    if label_col is not None:
        sel.append(F.col(label_col).alias("_lbl"))
    c = corpus.select(*sel)
    qsel = [F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")]
    if label_col is not None:
        qsel.append(F.col(label_col).alias("_lbl"))
    panel = queries.select(*qsel).collect()
    panel.sort(key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in panel], dtype=np.int64)
    Q = np.array([r.qv for r in panel], dtype=np.int64)
    qlbl = (
        np.array([r._lbl for r in panel], dtype=np.int64)
        if label_col is not None
        else None
    )
    qnrm = (
        np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        if len(panel)
        else np.empty((0,))
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf) or not len(qids):
                continue
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            vids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            dots = (V @ Q.T).astype(np.float64)
            clbl = (
                pdf["_lbl"].to_numpy() if label_col is not None else None
            )
            for qi in range(len(qids)):
                if exclude == "label":
                    keep = clbl != qlbl[qi]
                else:
                    keep = vids != qids[qi]
                if not keep.any():
                    continue
                out = {
                    "query_id": qids[qi],
                    "corpus_id": vids[keep],
                    "cosine": dots[keep, qi] / (qnrm[qi] * nrm[keep]),
                }
                if emit_labels:
                    out["query_label"] = qlbl[qi]
                    out["corpus_label"] = clbl[keep].astype(np.int64)
                yield pd.DataFrame(out)

    schema = "query_id long, corpus_id long, cosine double"
    if emit_labels:
        schema += ", query_label long, corpus_label long"
    return c.mapInPandas(_score, schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact (quantized) cosine top-k: for each query vector, the k
    nearest corpus vectors (excluding itself). The bounded query
    panel is broadcast in-closure of one vectorized corpus pass
    (``panel_cosine_scores``) — the corpus stays shuffle-free until
    the top-k exchange, exactly as before, with the per-pair
    interpreted fold replaced by one exact int64 matmul per batch."""
    scored = panel_cosine_scores(
        corpus, queries, vec_col=vec_col, id_col=id_col, exclude="self"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "corpus_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )
