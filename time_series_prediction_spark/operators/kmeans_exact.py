"""Cross-engine-deterministic k-means cells for SemDeDup blocking.

A float Lloyd in NumPy over Arrow batches is fast, but its
reductions (BLAS order, pairwise summation) are not reproducible
outside that stack, which is why ``dedup_semantic_prune`` was a
rows-only driver check through round 6. This module re-derives the clustering as EXACT arithmetic so
a DuckDB oracle can replay it bit-for-bit:

* vectors are the already-quantized ``round(v · 2^20)`` bigints shared
  with every other oracle-backed similarity query;
* a centroid is held as ``(S: array<bigint> per-dim sums, m: count)``
  — never a float mean. Integer addition is associative, so no
  execution order (Spark shuffle, NumPy axis-sum, SQL GROUP BY) can
  perturb training;
* the squared distance to a centroid is ``Σ_i (v_i·m − S_i)² / m²``
  where every residual ``v_i·m − S_i`` is an exact int64 (|qv| ≤ 2^20,
  m ≤ 4096 ⇒ |v·m − S| ≤ 2^33), each squared term is one
  correctly-rounded double product, and the sum is a SEQUENTIAL fold
  in dimension order — the same IEEE op sequence in Spark
  (``aggregate``), NumPy (``cumsum``), and DuckDB (``list_reduce``);
* ties (equal double distances) break to the lowest cell id
  everywhere;
* the training sample is the deterministic rule ``vec_id <
  sample_cap`` (bounded work at any corpus size), init spreads the
  sample across cells by rank stripes ``(rk·k) DIV m``, and the
  iteration count is fixed — so the whole procedure, not just one
  trained snapshot, is expressible as unrolled SQL CTEs.

Scale shape: training collects the ≤ ``sample_cap``-row sample to the
driver ONCE and runs the exact Lloyd in NumPy (bounded memory/time at
any corpus size — the classic train-on-a-sample discipline); the full
corpus then pays a single Arrow-batched NumPy assignment pass against
the 16 centroids — no shuffle — and the cell equi-join bounds pair
work by cell occupancy. Reference scope: beyond-reference
curation (SemDeDup, Abbas et al. 2023, arXiv:2303.09540); the
reference repo has no embedding operators.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.materialize import materialize
from time_series_prediction_spark.operators.similarity import quantize

N_CELLS = 16
SAMPLE_CAP = 4096
N_ITERS = 2
_SCALE = 1 << 20


# ---------------------------------------------------------------------------
# driver-side exact Lloyd on the bounded sample
# ---------------------------------------------------------------------------


def _dists_to_all(
    V: np.ndarray, cents: list[tuple[int, np.ndarray, int]]
) -> np.ndarray:
    """(n, n_cells) distances of every row to every centroid in ONE
    vectorized pass: exact residuals, double squares, SEQUENTIAL
    dim-order sum — the engines' fold order. The residual ``v·m − S``
    stays exact int64 (|v|≤2^20, m≤4096 ⇒ |v·m|≤2^32, |S|≤2^32), the
    square is one double product per element, and the dim-order sum
    runs per (cell, row) as one in-place (n, n_cells) accumulator add per
    dimension — the identical per-element rounding sequence as
    ``cumsum(...)[:, -1]`` over the squares, without the (C, n, d)
    residual/square/prefix tensors a stacked formulation materializes
    (cache-sized slices instead of DRAM-bound 30 MB temporaries: ~2×
    measured)."""
    if not cents:
        return np.empty((len(V), 0), dtype=np.float64)
    S = np.stack([s for _c, s, _m in cents])             # (C, d) int64
    M = np.array([int(m) for _c, _s, m in cents], dtype=np.int64)
    acc: np.ndarray | None = None
    for j in range(V.shape[1]):
        t = (V[:, j, None] * M[None, :] - S[None, :, j]).astype(
            np.float64
        )
        t *= t
        acc = t if acc is None else acc.__iadd__(t)
    assert acc is not None
    acc /= (M * M).astype(np.float64)[None, :]
    return acc


def _train(V: np.ndarray, n_cells: int, n_iters: int) -> list[tuple[int, list[int], int]]:
    """Exact-integer Lloyd over the sample matrix ``V`` (rows already
    in vec_id order). Returns sorted (cell, S, m) triples."""
    mt = V.shape[0]
    rk = np.arange(mt, dtype=np.int64)
    stripe = (rk * n_cells) // mt
    cents: list[tuple[int, np.ndarray, int]] = []
    for c in np.unique(stripe):
        first = int(np.nonzero(stripe == c)[0][0])
        cents.append((int(c), V[first].copy(), 1))
    for _ in range(n_iters):
        dist = _dists_to_all(V, cents)
        pick = np.argmin(dist, axis=1)  # first minimum = lowest cell
        nxt = []
        for col, (cell, _, _) in enumerate(cents):
            mask = pick == col
            mc = int(mask.sum())
            if mc == 0:
                continue  # empty cell drops, same as the SQL GROUP BY
            nxt.append((cell, V[mask].sum(axis=0), mc))  # exact int64
        cents = nxt
    return [(c, [int(v) for v in s], m) for c, s, m in cents]


# training is deterministic per (corpus, params): registry queries
# pass cache_key=sf_dir so IVF, PQ, and SemDeDup in one session share
# one sample collect + train instead of three
from time_series_prediction_spark.session_memo import session_memo

_FIT_CACHE: dict[tuple, tuple[list, np.ndarray, np.ndarray]] = session_memo({})


def _fit(
    emb: DataFrame,
    n_cells: int,
    sample_cap: int,
    n_iters: int,
    cache_key: str | None = None,
) -> tuple[list[tuple[int, list[int], int]], DataFrame, np.ndarray, np.ndarray]:
    """Train the exact-integer cells on the bounded deterministic
    sample; returns (centroids, quantized corpus frame, sample
    matrix, sample vec_ids) — the matrix so PQ codebook training
    reuses the same collected sample, the ids so bounded query panels
    (vec_id < n_queries ≤ sample_cap) come from the SAME collect
    instead of a second Spark job (guide §1.2: don't pay twice)."""
    q = emb.select("vec_id", quantize("embedding").alias("qv"))
    key = (cache_key, n_cells, sample_cap, n_iters)
    if cache_key is not None and key in _FIT_CACHE:
        cents, V, ids = _FIT_CACHE[key]
        return cents, q, V, ids
    # collect unordered, sort driver-side: same deterministic vec_id
    # order as the old .orderBy("vec_id") without its sort exchange
    sample = q.where(F.col("vec_id") < sample_cap).collect()
    sample.sort(key=lambda r: r.vec_id)
    V = np.array([r.qv for r in sample], dtype=np.int64)
    ids = np.array([r.vec_id for r in sample], dtype=np.int64)
    cents = _train(V, n_cells, n_iters)
    if cache_key is not None:
        _FIT_CACHE[key] = (cents, V, ids)
    return cents, q, V, ids


def _assign_cells_pass(
    q: DataFrame,
    cents: list[tuple[int, list[int], int]],
) -> DataFrame:
    """One Arrow-batched corpus pass producing (vec_id, qv, cell, nrm):
    coarse-cell argmin + exact integer norm in vectorized NumPy —
    ``_dists_to_all``'s sequential-cumsum contract,
    argmin-first-minimum = lowest cell (``cents`` stay in ascending
    cell order through training), |qv|≤2^20 so the int64
    norm ≤ d·2^40 is exact and its double conversion lossless. This is
    the same proven replacement ``_assign_encode_pass`` made for the
    PQ encode (which measured the JVM HOF fold ~5× slower than the
    batch math); r14 profiling showed the plain-IVF/SemDeDup
    assignment fold running interpreted on ONE task for ~0.5-0.9 s
    per query — guide §4.2 (vectorized native code inside the Python
    boundary) applied to the last interpreted full-corpus fold."""
    import pandas as pd

    cent_np = [(c, np.array(s, np.int64), m) for c, s, m in cents]
    cell_labels = np.array([c for c, _s, _m in cent_np], dtype=np.int32)

    def _pass(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            D = _dists_to_all(V, cent_np)   # (n, C), cents order
            cell = cell_labels[np.argmin(D, axis=1)]
            nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "qv": pdf["qv"],
                    "cell": cell,
                    "nrm": nrm,
                }
            )

    return q.mapInPandas(
        _pass, "vec_id long, qv array<bigint>, cell int, nrm double"
    )


def lloyd_assign(
    emb: DataFrame,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """(vec_id, qv, cell, nrm) for the full corpus, cells from the
    deterministic exact-integer Lloyd procedure above. The returned
    frame is materialized — it feeds both sides of the pair join and
    the membership counts, so the assignment pass is paid once;
    ``eager=False`` defers the checkpoint job to the caller's first
    action (one job instead of two)."""
    cents, q, _, _ = _fit(emb, n_cells, sample_cap, n_iters, cache_key)
    return materialize(_assign_cells_pass(q, cents), eager=False)


def _probe_cells(
    cents: list[tuple[int, list[int], int]],
    V: np.ndarray,
    ids: np.ndarray,
    n_queries: int,
    nprobe: int,
) -> list[tuple[int, int]]:
    """The ``nprobe`` nearest cells per query — (distance asc, cell
    asc), the probe fold's tie discipline — computed DRIVER-side on
    the already-collected training sample (the query panel is the
    ``vec_id < n_queries ≤ sample_cap`` prefix of it): bounded driver
    work instead of a Spark job whose plan carries the full centroid
    literal. Same ``_dists_to_all`` op sequence as the assignment, so
    the cell lists follow the oracle's ``ORDER BY dist, cell``."""
    panel = ids < n_queries
    qids = ids[panel]
    Q = V[panel]
    out: list[tuple[int, int]] = []
    if not len(qids):
        return out
    D = _dists_to_all(
        Q, [(c, np.array(s, np.int64), m) for c, s, m in cents]
    )
    cells = [int(c) for c, _s, _m in cents]
    for qi, qid in enumerate(qids):
        order = sorted(
            range(len(cells)), key=lambda j: (D[qi, j], cells[j])
        )[:nprobe]
        out.extend((int(qid), cells[j]) for j in order)
    return out


def _probe_map_expr(
    cents: list[tuple[int, list[int], int]],
    V: np.ndarray,
    ids: np.ndarray,
    n_queries: int,
    nprobe: int,
) -> str:
    """``element_at(<map>, vec_id)`` SQL fragment mapping each panel
    query to its driver-computed probe-cell list (order preserved —
    distance asc, cell asc). ~n_queries·nprobe small int literals vs
    the retired per-row argmin fold over the full n_cells × dims
    centroid literal."""
    by_q: dict[int, list[int]] = {}
    for qid, cell in _probe_cells(cents, V, ids, n_queries, nprobe):
        by_q.setdefault(qid, []).append(cell)
    entries = ", ".join(
        f"{qid}L, array({', '.join(str(c) for c in cells)})"
        for qid, cells in by_q.items()
    )
    return f"element_at(map({entries}), vec_id)"


def ivf_ann_exact(
    emb: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    n_queries: int = 10,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF ANN top-``k`` with the EXACT-integer coarse quantizer: the
    full IVF pipeline — train cells, assign the corpus, probe each
    query's ``nprobe`` nearest cells, cosine-score only those cells'
    members — with every arithmetic step order-deterministic, so the
    whole procedure (training included) unrolls into the DuckDB SQL
    of ``ivf_ann_exact_sql`` and the driver can oracle-check it.

    Scale shape is the real IVF one: the corpus is scanned once for
    assignment (one Arrow-batched NumPy pass, ``_assign_cells_pass``), the
    candidate join is an equi-join on cell (pair work bounded by cell
    occupancy × nprobe, never all-pairs), and top-k is one window per
    query partition. Cosine = exact bigint dot / (double norms) —
    |q·v| ≤ d·2^40 ≪ 2^63 at d = 64, so the dot never rounds."""
    from pyspark.sql.window import Window

    cents, q, V, ids = _fit(emb, n_cells, sample_cap, n_iters, cache_key)
    if n_queries > sample_cap:
        raise ValueError("n_queries must be <= sample_cap")
    corpus = materialize(_assign_cells_pass(q, cents), eager=False)
    # probe lists computed driver-side from the training sample (the
    # panel is its prefix) and attached as a tiny map literal — the
    # per-row argmin fold over the full centroid literal is gone
    queries = corpus.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
        F.explode(
            F.expr(_probe_map_expr(cents, V, ids, n_queries, nprobe))
        ).alias("cell"),
    )
    cand = F.broadcast(queries).join(corpus, "cell").where(
        F.col("vec_id") != F.col("query_id")
    )
    dot = (
        "CAST(aggregate(zip_with(q_qv, qv, (a, b) -> a * b), 0L, "
        "(a, x) -> a + x) AS DOUBLE)"
    )
    scored = cand.withColumn(
        "cosine", F.expr(dot) / (F.col("q_nrm") * F.col("nrm"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_ann_exact_sql(
    dims: int,
    k: int = 5,
    nprobe: int = 8,
    n_queries: int = 10,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
) -> str:
    """The DuckDB mirror of ``ivf_ann_exact``: the unrolled Lloyd CTE
    chain (training included), then probe → candidate equi-join →
    cosine → per-query top-k, all in the same op order."""
    base = lloyd_cells_sql(dims, n_cells, sample_cap, n_iters)
    dist = _duck_dist("f.qv", "c.s", "c.m", dims)
    return (
        base
        + f""",
qp AS (
  SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm, cell AS pcell
  FROM (
    SELECT f.vec_id, f.qv, f.nrm, c.cell,
           row_number() OVER (PARTITION BY f.vec_id
                              ORDER BY {dist} ASC, c.cell ASC) AS prn
    FROM (SELECT * FROM final WHERE vec_id < {n_queries}) f
    CROSS JOIN c{n_iters} c)
  WHERE prn <= {nprobe}
),
cand AS (
  SELECT q.query_id, q.q_qv, q.q_nrm,
         f.vec_id AS corpus_id, f.qv AS cvec, f.nrm AS cnrm
  FROM qp q JOIN final f ON f.cell = q.pcell
  WHERE f.vec_id != q.query_id
),
scored AS (
  SELECT query_id, corpus_id,
         CAST(list_sum(list_transform(range(1, {dims + 1}),
                                      i -> q_qv[i] * cvec[i])) AS DOUBLE)
           / (q_nrm * cnrm) AS cosine
  FROM cand
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""
    )


# ---------------------------------------------------------------------------
# DuckDB mirror: the SAME procedure as unrolled CTEs
# ---------------------------------------------------------------------------


def _duck_dist(qv: str, s: str, m: str, dims: int) -> str:
    term = (
        f"CAST({qv}[i] * {m} - {s}[i] AS DOUBLE)"
        f" * CAST({qv}[i] * {m} - {s}[i] AS DOUBLE)"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {dims + 1}), i -> {term})), "
        f"(a, x) -> a + x) / CAST({m} * {m} AS DOUBLE)"
    )


def _duck_assign_cte(src: str, cents: str, out: str, dims: int) -> str:
    """CTE assigning every row of ``src`` (vec_id, qv) to its nearest
    centroid in ``cents`` (cell, s, m): window argmin, ties to the
    lowest cell — same comparison stream as the Spark fold."""
    dist = _duck_dist("r.qv", "c.s", "c.m", dims)
    return f"""{out} AS (
  SELECT vec_id, qv, cell FROM (
    SELECT r.vec_id, r.qv, c.cell,
           row_number() OVER (PARTITION BY r.vec_id
                              ORDER BY {dist} ASC, c.cell ASC) AS prn
    FROM {src} r CROSS JOIN {cents} c)
  WHERE prn = 1
)"""


def _duck_centroid_cte(src: str, out: str, dims: int) -> str:
    return f"""{out}_d AS (
  SELECT cell, t.pos AS pos, sum(qv[t.pos]) AS sv
  FROM {src} CROSS JOIN (SELECT unnest(range(1, {dims + 1})) AS pos) t
  GROUP BY cell, t.pos
), {out}_m AS (
  SELECT cell, CAST(count(*) AS BIGINT) AS m FROM {src} GROUP BY cell
), {out} AS (
  SELECT d.cell, array_agg(d.sv ORDER BY d.pos) AS s, any_value(m.m) AS m
  FROM {out}_d d JOIN {out}_m m USING (cell)
  GROUP BY d.cell
)"""


def lloyd_cells_sql(
    dims: int,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
) -> str:
    """CTE chain ending in ``final`` = (vec_id, qv, nrm, cell) over the
    ``embeddings`` view — the full Lloyd procedure unrolled (the
    iteration count is a constant, so 'iterative' collapses to a fixed
    CTE pipeline DuckDB can run)."""
    parts = [
        f"""e AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * {_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
), samp AS (
  SELECT vec_id, qv FROM e WHERE vec_id < {sample_cap}
), rks AS (
  SELECT vec_id, qv,
         row_number() OVER (ORDER BY vec_id) - 1 AS rk,
         count(*) OVER () AS mt
  FROM samp
), c0 AS (
  SELECT cell, s, m FROM (
    SELECT CAST((rk * {n_cells}) // mt AS INT) AS cell, qv AS s,
           CAST(1 AS BIGINT) AS m,
           row_number() OVER (PARTITION BY (rk * {n_cells}) // mt
                              ORDER BY rk) AS rn
    FROM rks)
  WHERE rn = 1
)"""
    ]
    prev_cents = "c0"
    for it in range(1, n_iters + 1):
        parts.append(_duck_assign_cte("rks", prev_cents, f"a{it}", dims))
        parts.append(_duck_centroid_cte(f"a{it}", f"c{it}", dims))
        prev_cents = f"c{it}"
    parts.append(_duck_assign_cte("e", prev_cents, "af", dims))
    parts.append(
        """final AS (
  SELECT vec_id, qv, cell,
         sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(qv, v -> v * v)), (a, b) -> a + b) AS DOUBLE)) AS nrm
  FROM af
)"""
    )
    return "WITH " + ",\n".join(parts)


# ---------------------------------------------------------------------------
# exact IVF-PQ: per-subspace codebooks + ADC, same determinism contract
# ---------------------------------------------------------------------------

N_SUB = 16
N_CODES = 32


def _train_pq(
    V: np.ndarray, n_sub: int, n_codes: int, n_iters: int
) -> list[list[tuple[int, list[int], int]]]:
    """Per-subspace exact-integer Lloyd: subspace s trains on the
    sample's columns [s·sd, (s+1)·sd) with the same striped init and
    fixed iteration count — one independent, SQL-unrollable procedure
    per codebook."""
    d = V.shape[1]
    sd = d // n_sub
    # sorted by cell label: position in the list IS the dense code
    # the Arrow encode pass and the ADC LUT index by
    return [
        sorted(_train(V[:, s * sd:(s + 1) * sd], n_codes, n_iters))
        for s in range(n_sub)
    ]


def _assign_encode_pass(
    q: DataFrame,
    cents: list[tuple[int, list[int], int]],
    books: list[list[tuple[int, list[int], int]]],
    n_sub: int,
    sd: int,
) -> DataFrame:
    """One Arrow-batched corpus pass producing (vec_id, qv, cell,
    codes, nrm): coarse-cell argmin over the full vector, per-subspace
    dense-position code argmin, and the exact integer norm. All math
    is ``_dists_to_all``'s sequential-cumsum contract — bit-identical
    to the DuckDB CTEs, as the oracle comparison proves end to end."""
    import pandas as pd

    cent_np = [(c, np.array(s, np.int64), m) for c, s, m in cents]
    book_np = [
        [(np.array(s, np.int64), m) for _c, s, m in bs] for bs in books
    ]
    cell_labels = np.array([c for c, _s, _m in cent_np], dtype=np.int32)

    def _pass(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            D = _dists_to_all(V, cent_np)   # (n, C), cents order
            cell = cell_labels[np.argmin(D, axis=1)]
            codes = np.empty((len(V), n_sub), dtype=np.int32)
            for sb in range(n_sub):
                Vs = V[:, sb * sd:(sb + 1) * sd]
                Ds = _dists_to_all(
                    Vs, [(0, s, m) for s, m in book_np[sb]]
                )
                codes[:, sb] = np.argmin(Ds, axis=1)  # dense positions
            nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "qv": pdf["qv"],
                    "cell": cell,
                    "codes": list(codes),
                    "nrm": nrm,
                }
            )

    return q.mapInPandas(
        _pass,
        "vec_id long, qv array<bigint>, cell int, codes array<int>, "
        "nrm double",
    )


def pq_ann_exact(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_sub: int = N_SUB,
    n_codes: int = N_CODES,
    nprobe: int = 10,
    shortlist: int = 60,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
    cache_key: str | None = None,
) -> DataFrame:
    """Full IVF-PQ ANN with EXACT-integer training end to end: coarse
    cells and all ``n_sub`` codebooks train on the deterministic
    sample (integer centroid sums); the corpus is assigned a cell and
    encoded to ``n_sub`` codes in ONE vectorized Arrow pass
    (``_assign_encode_pass`` — numpy with the identical op sequence
    the trainer and the oracle use; Spark's higher-order-function
    lambdas are interpreted per element, which made the
    JVM-expression encode ~5× slower than the batch math); each query
    ADC-scores only its ``nprobe`` probed cells' members against the
    codebook LUT; the ``shortlist`` best ADC candidates get an exact
    cosine re-rank into the final top-``k``. Every float op is a
    sequential fold, so ``pq_ann_exact_sql`` replays the WHOLE
    pipeline — training, encoding, ADC, re-rank — in DuckDB and the
    driver hash-checks it.

    Scale shape: train-on-sample (bounded driver work), one corpus
    scan for assign+encode (Arrow-batched vector math — the declared
    pandas-wins case, like LSH bucketing), candidate work bounded by
    cell occupancy × nprobe, ADC per pair is ``n_sub`` LUT folds on
    16-byte codes instead of a 64-dim float dot — the memory-bound
    win PQ exists for."""
    from pyspark.sql.window import Window

    import pandas as pd

    cents, q, V, ids = _fit(emb, n_cells, sample_cap, n_iters, cache_key)
    dims = V.shape[1]
    if dims % n_sub:
        raise ValueError(f"dims {dims} not divisible by n_sub {n_sub}")
    sd = dims // n_sub
    books = _train_pq(V, n_sub, n_codes, n_iters)
    corpus = materialize(
        _assign_encode_pass(q, cents, books, n_sub, sd), eager=False
    )
    # the bounded query panel (vec_id < n_queries ≤ sample_cap) is a
    # prefix of the already-collected training sample — probe lists
    # come from it driver-side as a tiny map literal, so the giant
    # centroid-literal probe plan disappears
    if n_queries > sample_cap:
        raise ValueError("n_queries must be <= sample_cap")
    queries = corpus.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.expr(_probe_map_expr(cents, V, ids, n_queries, nprobe))
        ).alias("cell"),
    )
    panel = (ids < n_queries)
    qids = ids[panel]
    # per-(query, subspace, code) ADC distances, precomputed
    # driver-side with the exact _dists_to_all op sequence
    book_np = [
        [(np.array(s, np.int64), m) for _c, s, m in bs] for bs in books
    ]
    lut = np.empty((len(qids), n_sub, max(len(b) for b in books)))
    Qp = V[panel]
    for sb in range(n_sub):
        Qsub = Qp[:, sb * sd:(sb + 1) * sd]
        lut[:, sb, : len(book_np[sb])] = _dists_to_all(
            Qsub, [(0, s, m) for s, m in book_np[sb]]
        )
    qpos = {int(qid): i for i, qid in enumerate(qids)}

    # candidate join ships (query_id, cell) × (vec_id, cell, codes) —
    # codes are n_sub small ints; the 64-dim vectors never enter the
    # exchange (guide §2.3/§8: decide on lightweight proxies, attach
    # payloads once at the end)
    cand = F.broadcast(queries).join(
        corpus.select("cell", "vec_id", "codes"), "cell"
    ).where(F.col("vec_id") != F.col("query_id"))

    def _adc_pass(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            qi = pdf["query_id"].map(qpos).to_numpy(dtype=np.int64)
            vals = lut[qi[:, None], np.arange(n_sub)[None, :], codes]
            # sequential left fold in subspace order — one in-place
            # column add per subspace, the same per-element rounding
            # sequence as the oracle's ordered list_reduce
            adc = vals[:, 0].copy()
            for j in range(1, vals.shape[1]):
                adc += vals[:, j]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "vec_id": pdf["vec_id"],
                    "adc": adc,
                }
            )

    scored = cand.select("query_id", "vec_id", "codes").mapInPandas(
        _adc_pass, "query_id long, vec_id long, adc double"
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("vec_id")
    )
    short = scored.withColumn("_rn", F.row_number().over(wa)).where(
        F.col("_rn") <= shortlist
    ).select("query_id", "vec_id")
    # exact re-rank: attach vectors to the ≤ shortlist·n_queries
    # survivors only
    qvecs = corpus.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nrm").alias("q_nrm"),
    )
    rer = (
        short.join(corpus.select("vec_id", "qv", "nrm"), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
    )
    dot = (
        "CAST(aggregate(zip_with(q_qv, qv, (a, b) -> a * b), 0L, "
        "(a, x) -> a + x) AS DOUBLE)"
    )
    rer = rer.withColumn(
        "cosine", F.expr(dot) / (F.col("q_nrm") * F.col("nrm"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("vec_id").alias("corpus_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _duck_pq_assign(src: str, cents: str, out: str, sd: int) -> str:
    dist = _duck_dist("r.sv", "c.s", "c.m", sd)
    return f"""{out} AS (
  SELECT vec_id, sub, sv, cell FROM (
    SELECT r.vec_id, r.sub, r.sv, c.cell,
           row_number() OVER (PARTITION BY r.sub, r.vec_id
                              ORDER BY {dist} ASC, c.cell ASC) AS prn
    FROM {src} r JOIN {cents} c ON c.sub = r.sub)
  WHERE prn = 1
)"""


def _duck_pq_centroid(src: str, out: str, sd: int) -> str:
    return f"""{out}_d AS (
  SELECT sub, cell, t.pos AS pos, sum(sv[t.pos]) AS svv
  FROM {src} CROSS JOIN (SELECT unnest(range(1, {sd + 1})) AS pos) t
  GROUP BY sub, cell, t.pos
), {out}_m AS (
  SELECT sub, cell, CAST(count(*) AS BIGINT) AS m
  FROM {src} GROUP BY sub, cell
), {out} AS (
  SELECT d.sub, d.cell, array_agg(d.svv ORDER BY d.pos) AS s,
         any_value(m.m) AS m
  FROM {out}_d d JOIN {out}_m m USING (sub, cell)
  GROUP BY d.sub, d.cell
)"""


def pq_ann_exact_sql(
    dims: int,
    k: int = 5,
    n_queries: int = 10,
    n_sub: int = N_SUB,
    n_codes: int = N_CODES,
    nprobe: int = 10,
    shortlist: int = 60,
    n_cells: int = N_CELLS,
    sample_cap: int = SAMPLE_CAP,
    n_iters: int = N_ITERS,
) -> str:
    """DuckDB mirror of ``pq_ann_exact``: the coarse-cell Lloyd chain
    (``lloyd_cells_sql``), the per-subspace codebook Lloyd unrolled
    over a subspace-unnested relation (one CTE chain covers all 16
    codebooks — subspace is a column, not 16 copies of the SQL), the
    corpus encode, ADC via the (query, sub, code) LUT join with an
    ordered fold, shortlist, exact cosine re-rank, top-k."""
    sd = dims // n_sub
    base = lloyd_cells_sql(dims, n_cells, sample_cap, n_iters)
    sv = f"list_transform(range(1, {sd + 1}), i -> qv[sub * {sd} + i])"
    parts = [
        f"""subs AS (SELECT unnest(range(0, {n_sub})) AS sub),
pq0 AS (
  SELECT vec_id, sub, {sv} AS sv, rk, mt FROM rks CROSS JOIN subs
),
pc0 AS (
  SELECT sub, cell, s, m FROM (
    SELECT sub, CAST((rk * {n_codes}) // mt AS INT) AS cell, sv AS s,
           CAST(1 AS BIGINT) AS m,
           row_number() OVER (PARTITION BY sub, (rk * {n_codes}) // mt
                              ORDER BY rk) AS rn
    FROM pq0)
  WHERE rn = 1
)"""
    ]
    prev = "pc0"
    for it in range(1, n_iters + 1):
        parts.append(_duck_pq_assign("pq0", prev, f"pa{it}", sd))
        parts.append(_duck_pq_centroid(f"pa{it}", f"pc{it}", sd))
        prev = f"pc{it}"
    dist_cent = _duck_dist("f.qv", "c.s", "c.m", dims)
    term = (
        f"CAST(q.q_qv[pe.sub * {sd} + i] * b.m - b.s[i] AS DOUBLE)"
        f" * CAST(q.q_qv[pe.sub * {sd} + i] * b.m - b.s[i] AS DOUBLE)"
    )
    pair_d = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, {sd + 1}), i -> {term})), "
        f"(a, x) -> a + x) / CAST(b.m * b.m AS DOUBLE)"
    )
    parts.append(
        f"""pall AS (
  SELECT vec_id, sub, {sv} AS sv FROM e CROSS JOIN subs
),
{_duck_pq_assign("pall", prev, "pencf", sd)[:-1]}
),
penc AS (SELECT vec_id, sub, cell AS code FROM pencf),
qp AS (
  SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm, cell AS pcell
  FROM (
    SELECT f.vec_id, f.qv, f.nrm, c.cell,
           row_number() OVER (PARTITION BY f.vec_id
                              ORDER BY {dist_cent} ASC, c.cell ASC) AS prn
    FROM (SELECT * FROM final WHERE vec_id < {n_queries}) f
    CROSS JOIN c{n_iters} c)
  WHERE prn <= {nprobe}
),
pairs AS (
  SELECT q.query_id, f.vec_id AS corpus_id, pe.sub, {pair_d} AS d
  FROM qp q
  JOIN final f ON f.cell = q.pcell AND f.vec_id != q.query_id
  JOIN penc pe ON pe.vec_id = f.vec_id
  JOIN {prev} b ON b.sub = pe.sub AND b.cell = pe.code
),
adc AS (
  SELECT query_id, corpus_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           array_agg(d ORDER BY sub)), (a, x) -> a + x) AS adc
  FROM pairs GROUP BY query_id, corpus_id
),
short AS (
  SELECT query_id, corpus_id FROM (
    SELECT query_id, corpus_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc ASC, corpus_id ASC) AS rn
    FROM adc)
  WHERE rn <= {shortlist}
),
qd AS (SELECT DISTINCT query_id, q_qv, q_nrm FROM qp),
rer AS (
  SELECT s.query_id, s.corpus_id,
         CAST(list_sum(list_transform(range(1, {dims + 1}),
              i -> q.q_qv[i] * f.qv[i])) AS DOUBLE)
           / (q.q_nrm * f.nrm) AS cosine
  FROM short s
  JOIN qd q USING (query_id)
  JOIN final f ON f.vec_id = s.corpus_id
)"""
    )
    body = f"""
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM rer)
WHERE rank <= {k}
"""
    return base + ",\n" + ",\n".join(parts) + body


# ---------------------------------------------------------------------------
# exact LSH ANN: integer random-hyperplane buckets, same contract
# ---------------------------------------------------------------------------


def _lsh_planes_int(
    n_planes: int, n_tables: int, seed: int, dim: int, scale: int = 1024
) -> list:
    """Integer-quantized random hyperplanes: table t draws from
    rng(seed + 1000·t) and quantizes to
    ``round(p·scale)`` int64. Signs of INTEGER dot products are exact
    — no BLAS-order ambiguity — so the bucket ids are reproducible in
    any engine. The planes are seed-derived constants (not trained on
    data), so both the Spark plan and the generated SQL embed the
    same literals."""
    return [
        np.round(
            np.random.default_rng(seed + 1000 * t).standard_normal(
                (n_planes, dim)
            )
            * scale
        ).astype(np.int64)
        for t in range(n_tables)
    ]


def lsh_ann_exact(
    emb: DataFrame,
    k: int = 10,
    n_queries: int = 10,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """LSH-bucketed ANN top-``k`` on EXACT integer arithmetic end to
    end: quantized vectors × integer hyperplanes give exact sign
    bits, candidates share a (table, bucket) in ≥1 of ``n_tables``
    independent tables (equi-join, never all-pairs), and the exact
    integer-cosine re-rank picks the top-``k``. Every value is
    order-free integer math or one double division, so
    ``lsh_ann_exact_sql`` replays it verbatim and the driver
    hash-checks the answer — the last of the four ANN families
    (cosine, IVF, IVF-PQ, LSH) to graduate from rows-only.

    The bucket pass is one Arrow-batched int64 matmul per table
    (exact in int64 — |qv·p| ≤ d·2^20·2^13 ≪ 2^63), the declared
    vectorized-Python case.

    Plan shape (r14): the BOUNDED query panel (``n_queries`` rows) is
    collected once and travels in-closure — the broadcast side of the
    candidate equi-join — so the corpus pays exactly ONE vectorized
    pass that buckets each row, matches it against every query's
    (table, bucket) pair, and scores the surviving candidates with an
    exact int64 matmul cosine. The r13 shape exploded the corpus ×16
    tables, self-joined, and shipped both 64-dim vectors per
    candidate through a dropDuplicates exchange — four array columns
    per pair moved twice (guide §2.3/§8: shuffle keys, not payloads)
    and every surviving pair paid an interpreted 64-term fold. Same
    candidate set, same arithmetic, zero payload shuffles; corpus-side
    cost at any scale is one scan + the final per-query top-k
    exchange (rows ≤ candidates, never the corpus)."""
    import pandas as pd
    from pyspark.sql.window import Window

    planes = _lsh_planes_int(n_planes, n_tables, seed, dim)
    pows = (1 << np.arange(n_planes, dtype=np.int64))

    def _bucketize(mat: np.ndarray) -> np.ndarray:
        out = np.empty((len(mat), n_tables), dtype=np.int64)
        for t in range(n_tables):
            bits = (mat @ planes[t].T) > 0  # exact integer signs
            out[:, t] = bits @ pows
        return out

    q = emb.select("vec_id", quantize("embedding").alias("qv"))
    panel = q.where(F.col("vec_id") < n_queries).collect()
    panel.sort(key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in panel], dtype=np.int64)
    Q = np.array([r.qv for r in panel], dtype=np.int64)
    if len(panel) == 0:
        QB = np.empty((0, n_tables), dtype=np.int64)
        qnrm = np.empty((0,), dtype=np.float64)
    else:
        QB = _bucketize(Q)
        qnrm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))

    def _score(batches):
        for pdf in batches:
            if not len(pdf) or len(qids) == 0:
                continue
            V = np.array(pdf["qv"].tolist(), dtype=np.int64)
            B = _bucketize(V)
            vids = pdf["vec_id"].to_numpy()
            nrm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
            dots = (V @ Q.T).astype(np.float64)  # exact ≤ d·2^40
            for qi in range(len(qids)):
                hit = (B == QB[qi][None, :]).any(axis=1)
                hit &= vids != qids[qi]
                if not hit.any():
                    continue
                yield pd.DataFrame(
                    {
                        "query_id": qids[qi],
                        "corpus_id": vids[hit],
                        "cosine": dots[hit, qi] / (qnrm[qi] * nrm[hit]),
                    }
                )

    scored = q.mapInPandas(
        _score, "query_id long, corpus_id long, cosine double"
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


def lsh_ann_exact_sql(
    dims: int,
    k: int = 10,
    n_queries: int = 10,
    n_planes: int = 4,
    n_tables: int = 16,
    seed: int = 42,
) -> str:
    """DuckDB mirror of ``lsh_ann_exact``: the same integer plane
    literals — materialized ONCE as a (tbl, p, pv) VALUES relation,
    not inlined per row (DuckDB re-evaluates an inlined nested-list
    literal per element, which is quadratic) — bucket bits from exact
    integer dot signs summed as disjoint powers of two (order-free),
    the (table, bucket) candidate equi-join, and the exact cosine
    top-k."""
    planes = _lsh_planes_int(n_planes, n_tables, seed, dims)
    rows = ",\n    ".join(
        f"({t}, {p}, [{', '.join(str(int(v)) for v in planes[t][p])}])"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    return f"""WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * {_SCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
en AS (
  SELECT vec_id, qv,
         sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(qv, v -> v * v)), (a, b) -> a + b) AS DOUBLE))
           AS nrm
  FROM e
),
pl(tbl, p, pv) AS (
  VALUES
    {rows}
),
bits AS (
  SELECT en.vec_id, pl.tbl, 
         CASE WHEN list_sum(list_transform(range(1, {dims + 1}),
                i -> en.qv[i] * pl.pv[i])) > 0
              THEN CAST(1 AS BIGINT) << pl.p
              ELSE CAST(0 AS BIGINT) END AS bit
  FROM en CROSS JOIN pl
),
b AS (
  SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
  FROM bits GROUP BY vec_id, tbl
),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
  FROM b q
  JOIN b c ON c.tbl = q.tbl AND c.bucket = q.bucket
          AND c.vec_id != q.vec_id
  WHERE q.vec_id < {n_queries}
),
scored AS (
  SELECT cd.query_id, cd.corpus_id,
         CAST(list_sum(list_transform(range(1, {dims + 1}),
              i -> q.qv[i] * c.qv[i])) AS DOUBLE)
           / (q.nrm * c.nrm) AS cosine
  FROM cand cd
  JOIN en q ON q.vec_id = cd.query_id
  JOIN en c ON c.vec_id = cd.corpus_id
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored)
WHERE rank <= {k}
"""
