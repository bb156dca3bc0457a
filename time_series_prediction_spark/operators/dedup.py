"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram blocking.

Beyond-reference scope (SURVEY §7.1.8). Design target is 100 TB:

* exact_dedup — hash-groupBy on md5(text): one shuffle on the hash,
  map-side partial aggregation; the canonical survivor is min(doc_id).
* word_shingles / prefix_blocking_plan — the word-n-gram shingles and
  the scale-adaptive blocking width the ``dedup_ngram_jaccard`` query
  joins on, so its self-join is an equi-join Catalyst can
  hash-partition, NOT an O(n²) cross join.
* minhash_signature / minhash_banded / minhash_pairs_from_banded —
  word-shingle MinHash with k hash functions (md5-prefix shingle hash
  + seeded arithmetic permutations: JVM-side, no Python, and
  ENGINE-REPRODUCIBLE — the same constants drive the DuckDB oracle, so
  the query is oracle-backed end-to-end), banded LSH: signatures split
  into b bands of r rows; docs sharing a band-hash land in a bucket
  (equi-join on band value), and only bucket-mates are compared.
  Shuffle = one explode(b bands) + one equi-join — the standard
  scalable near-dup pipeline.
* simhash_sigs_pass / simhash_near_pairs — 64-bit SimHash over
  shingle hashes; near-dups have small Hamming distance; pairs
  blocked on scale-adaptive signature-block subsets. Like MinHash, the
  shingle hash is md5-derived (two 32-bit halves of the digest), so
  the generated DuckDB oracle reproduces signatures, buckets, pairs
  and Hamming distances bit-identically — both near-dup families are
  oracle-backed end-to-end; quality (separation of near-dups from
  random pairs) is additionally validated in pytest.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.materialize import materialize


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    scan produced fewer partitions — a small corpus arriving as one
    parquet file (or one row group) would otherwise run the CPU-heavy
    per-document stages (shingling, per-shingle md5) on a single core.
    At real scale the scan already has >= defaultParallelism splits and
    this is a no-op, so the extra shuffle is only ever paid on inputs
    small enough for it to be trivial."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical row (min id) per exact text hash.

    Aggregation (min over groupBy) rather than row_number-over-window:
    both shuffle once, but the agg gets map-side combine."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("text_md5"))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# shingles + exact n-gram Jaccard (blocked)
# ---------------------------------------------------------------------------


def prefix_blocking_plan(n_docs: int, base_tokens: int = 5) -> int:
    """Token count for the prefix-fingerprint blocking key, derived
    from corpus size the way ``simhash_blocking_plan`` derives its
    block count: each extra leading token multiplies prefix diversity
    by the effective vocabulary, so the expected per-block occupancy
    (and with it the quadratic per-block pair cost) stays bounded as
    the corpus grows instead of creeping up with prefix-space
    saturation. ``base_tokens`` = 5 for every corpus below 1e8 docs —
    all fixture scales, so the static DuckDB oracles encode the same
    key; beyond that the adaptive key diverges from the static SQL by
    design (the SimHash precedent).

    Round-7 note: the r6 scaling probe measured 2.7×/10× for the
    3-token key — organic prefix collisions grew 27×/10× at fixture
    vocabulary. Widening to 5 tokens cut collision growth ~2.5× with
    zero recall loss on the planted mutation families (both preserve
    the first 5 tokens; min fixture doc is 10 words)."""
    import math

    extra = max(0, math.ceil(math.log10(max(n_docs, 1) / 1e8)))
    return base_tokens + 2 * extra


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>.

    The token array is bound ONCE via a single-element transform
    (poor man's let) — inlining ``split()`` into the per-shingle lambda
    would re-tokenize the document for every shingle (O(len²)).

    Documents shorter than ``n`` tokens yield an EMPTY array, not
    ``[null]``: ``sequence(0, size - n)`` DESCENDS when size < n, so
    the unguarded transform would emit null shingles that all hash
    identically — every short doc would land in one shared LSH bucket
    (a quadratic pair blowup on short-doc-heavy corpora). The empty
    array matches the DuckDB oracles' ``len(t) >= n`` prefilter."""
    joined = " || ' ' || ".join(f"_w[i + {j}]" for j in range(n))
    return F.expr(
        f"transform(array(split({text_col}, ' ')), _w -> "
        f"CASE WHEN size(_w) < {n} THEN array() ELSE "
        f"array_distinct(transform(sequence(0, size(_w) - {n}), i -> {joined})) "
        f"END)[0]"
    )


def word_shingles_of_tokens(tokens_col: str, n: int = 3) -> Column:
    """``word_shingles`` over an ALREADY-TOKENIZED array column (a
    bound attribute, e.g. a Generate output — no re-tokenize risk and
    no let-binding trick needed). Same shingle construction and same
    empty-array short-doc contract."""
    joined = " || ' ' || ".join(f"{tokens_col}[i + {j}]" for j in range(n))
    return F.expr(
        f"CASE WHEN size({tokens_col}) < {n} THEN array() ELSE "
        f"array_distinct(transform(sequence(0, size({tokens_col}) - {n}), "
        f"i -> {joined})) END"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Engine-reproducible MinHash parameters: shingles hash to the first 7
# md5 hex chars (28-bit value — md5 is identical in every engine), and
# the k "hash functions" are seeded arithmetic permutations
# h_k = (a_k·h + b_k) mod p over the Mersenne prime p = 2^31 − 1
# (a < 2^31, h < 2^28 ⇒ products < 2^59: no int64 overflow in either
# engine). The SAME constants feed the Spark expression and the DuckDB
# oracle SQL, so signatures — and therefore LSH pairs and estimates —
# are bit-identical across engines.
MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def _minhash_perms(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(1301)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


_MINHASH_PERMS = _minhash_perms(64)  # shared pool; slices serve any k ≤ 64


def minhash_signature(
    shingles_col: str = "shingles", num_hashes: int = 32
) -> Column:
    """MinHash signature: array<bigint> of length num_hashes,
    engine-reproducible (md5-prefix shingle hash + arithmetic
    permutations — see module constants). Each shingle STRING is
    hashed once (``_h``); the k permutations are integer multiply-adds
    over the 28-bit value — k× the string-hashing cost would dominate
    otherwise."""
    if num_hashes > len(_MINHASH_PERMS):
        raise ValueError(f"num_hashes > {len(_MINHASH_PERMS)} unsupported")
    a_lit = ", ".join(str(a) for a, _ in _MINHASH_PERMS[:num_hashes])
    b_lit = ", ".join(str(b) for _, b in _MINHASH_PERMS[:num_hashes])
    return F.expr(
        f"transform(array(transform({shingles_col}, "
        f"s -> CAST(conv(substr(md5(s), 1, 7), 16, 10) AS BIGINT))), _h -> "
        f"zip_with(array({a_lit}), array({b_lit}), (a, b) -> "
        f"array_min(transform(_h, v -> (a * v + b) % {MINHASH_PRIME}))))[0]"
    )


def minhash_estimate(sig_a: str, sig_b: str) -> Column:
    """Estimated Jaccard = fraction of matching signature positions."""
    return F.expr(
        f"CAST(size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), v -> v)) AS DOUBLE)"
        f" / size({sig_a})"
    )


def minhash_banded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """The signature+banding STAGE of banded LSH — (id, sig,
    band, band_hash), one row per (doc, band). Split out so callers
    can persist it once (the md5-shingle signature compute dominates
    the whole pipeline) and feed both self-join sides — and multiple
    queries — from the same artifact."""
    rows = num_hashes // bands
    sigs = (
        ensure_parallelism(df)
        .select(F.col(id_col), word_shingles(text_col, n).alias("shingles"))
        .where(F.size("shingles") > 0)
        .select(
            F.col(id_col), minhash_signature("shingles", num_hashes).alias("sig")
        )
    )
    # the band key is the band's raw value string — a hash of it would
    # cost b extra md5 calls per doc and buys nothing: the join is an
    # equi-join either way, and the string is ~r small integers wide
    return sigs.select(
        id_col,
        "sig",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"array_join(transform(slice(sig, b * {rows} + 1, {rows}), "
                f"v -> CAST(v AS STRING)), ','))"
            )
        ).alias("band", "band_hash"),
    )


def minhash_pairs_from_banded(
    banded: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """The join half of banded LSH over an already-materialized
    (or disk-backed) ``minhash_banded`` frame: equi-join on
    (band, band_hash) → estimate → threshold → pair dedup."""
    a = banded.alias("a")
    b = banded.alias("b")
    # estimate + threshold BEFORE the pair dedup: the dropDuplicates
    # shuffle then carries (a, b, est) scalars instead of two
    # num_hashes-long signature arrays, and the threshold prunes rows
    # ahead of the exchange. est is deterministic per pair, so
    # dedup-after-filter returns the same set.
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            minhash_estimate("a.sig", "b.sig").alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def hamming64(a: str, b: str) -> Column:
    """Hamming distance between two 64-bit signatures via popcount."""
    return F.expr(f"bit_count({a} ^ {b})")


def simhash_sigs_pass(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sig): the SimHash signature stage as ONE Arrow-batched
    pass — hashlib md5 + NumPy bit votes in place of 64 interpreted
    ``filter`` folds per document (guide §4.2; the same proven
    md5-twin discipline as the series generator). Bit-identical to the
    Spark SQL fold the DuckDB oracle mirrors (pinned in
    tests/test_text_queries.py):
    the shingle hash is int(md5 hex[:16], 16) == (hi<<32)|lo two's-
    complement, a bit is set iff 2·(set votes) > |shingles|, and docs
    with fewer than ``n`` tokens (or no shingles) drop exactly as the
    ``size(shingles) > 0`` filter drops them."""
    import hashlib

    import numpy as np
    import pandas as pd

    shifts = np.arange(64, dtype=np.uint64)

    def _pass(batches):
        for pdf in batches:
            ids: list[int] = []
            sigs: list[int] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                toks = text.split(" ")
                if len(toks) < n:
                    continue
                sh = dict.fromkeys(
                    " ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)
                )
                H = np.array(
                    [
                        int.from_bytes(
                            hashlib.md5(s.encode()).digest()[:8], "big"
                        )
                        for s in sh
                    ],
                    dtype=np.uint64,
                )
                bits = (H[:, None] >> shifts[None, :]) & np.uint64(1)
                setbits = 2 * bits.sum(axis=0, dtype=np.int64) > len(H)
                sig = (
                    setbits.astype(np.uint64) << shifts
                ).sum(dtype=np.uint64)
                ids.append(did)
                sigs.append(int(np.int64(sig)))
            yield pd.DataFrame({id_col: ids, "sig": sigs}).astype(
                {id_col: "int64", "sig": "int64"}
            )

    return df.select(id_col, text_col).mapInPandas(
        _pass, f"{id_col} long, sig long"
    )


def simhash_blocking_plan(
    n_docs: int,
    guarantee_hamming: int = 3,
    target_bucket: int = 1024,
) -> tuple[int, list[tuple[int, ...]]]:
    """Scale-adaptive blocking plan (Manku et al., WWW'07 near-dup
    detection): split the 64-bit signature into ``m`` blocks and key
    buckets on every (m - k)-subset of blocks, k = guarantee_hamming.
    Pigeonhole: two signatures within Hamming distance k differ in at
    most k blocks, so they AGREE on some (m - k)-subset and are
    guaranteed to co-bucket — recall within k is exact for any m.

    ``m`` is derived from the corpus size the way pack_documents
    derives its group count: the smallest m whose key width
    (m - k) * (64 // m) bits keeps EXPECTED bucket membership
    n_docs / 2^key_bits at or below ``target_bucket``. At fixture
    scale this yields m = k + 1 = 4 (the classic four 16-bit words —
    one block per key, 4 tables); at n_docs ~ 1e11 it yields m = 6
    (30-bit keys, C(6,3) = 20 tables), at ~1e13 m = 7 (36-bit keys,
    35 tables) — per-bucket membership stays bounded instead of
    growing linearly with the corpus.

    Returns (m, key combinations)."""
    if not 1 <= guarantee_hamming <= 8:
        raise ValueError("guarantee_hamming must be in [1, 8]")
    from itertools import combinations

    k = guarantee_hamming
    m = k + 1
    while m < 16:
        key_bits = (m - k) * (64 // m)
        if (2.0 ** key_bits) * target_bucket >= max(n_docs, 1):
            break
        m += 1
    return m, list(combinations(range(m), m - k))


def _block_key_expr(sig: str, combo: tuple[int, ...], m: int) -> str:
    """Pack the combo's block values into one long (widths sum ≤ 63
    bits for every plan simhash_blocking_plan emits). Block i covers
    bits [i*w, (i+1)*w) with w = 64 // m; the last block absorbs the
    remainder."""
    w = 64 // m
    parts = []
    shift = 0
    for i in reversed(combo):
        width = 64 - (m - 1) * w if i == m - 1 else w
        mask = (1 << width) - 1
        parts.append(
            f"shiftleft(shiftright({sig}, {i * w}) & {mask}L, {shift})"
        )
        shift += width
    return " | ".join(parts)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 8,
    n_docs: int | None = None,
    target_bucket: int = 1024,
) -> DataFrame:
    """Near-dup pairs by SimHash with scale-adaptive banding: block on
    every (m-3)-subset of the signature's m blocks (m derived from
    corpus size via simhash_blocking_plan — expected bucket size stays
    ≤ target_bucket at ANY corpus size), then exact Hamming filter
    within buckets. Pairs within Hamming distance 3 are always
    co-bucketed; wider distances (up to ``max_hamming``) are kept when
    discovered. At fixture scale the plan degenerates to the classic
    four 16-bit words, so small-corpus results are unchanged.

    ``n_docs`` skips the sizing count when the caller already knows
    the corpus size."""
    if n_docs is None:
        n_docs = df.count()  # narrow count — sizing only
    m, combos = simhash_blocking_plan(n_docs, 3, target_bucket)
    # project BEFORE the parallelizing shuffle: only (id, text) cross
    # the exchange (guide §2.3), and the signature stage is the
    # vectorized Arrow pass, not the 64-filter-fold expression
    sigs = simhash_sigs_pass(
        ensure_parallelism(df.select(id_col, text_col)),
        text_col=text_col, id_col=id_col, n=n,
    )
    keys = ", ".join(_block_key_expr("sig", c, m) for c in combos)
    banded = sigs.select(
        id_col,
        "sig",
        F.posexplode(F.expr(f"array({keys})")).alias("word", "word_val"),
    )
    banded = materialize(banded)  # the 64-bit vote fold feeds BOTH join sides
    a = banded.alias("a")
    b = banded.alias("b")
    # Hamming filter BEFORE the pair dedup: deterministic per pair, so
    # filtering first prunes the dropDuplicates exchange.
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.word_val") == F.col("b.word_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
            hamming64("a.sig", "b.sig").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
