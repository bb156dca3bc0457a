"""Oracle checks for text/dedup/similarity queries + quality checks
for the hash-based (rows-only) operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.oracle_harness import assert_matches_oracle, duck_connection
from time_series_prediction_spark.operators import dedup, similarity
from time_series_prediction_spark.plans.text_queries import TEXT_QUERIES
from time_series_prediction_spark.sources.io import read_table

ORACLE_QUERIES = sorted(n for n, (_, sql) in TEXT_QUERIES.items() if sql)
ROWS_ONLY = sorted(n for n, (_, sql) in TEXT_QUERIES.items() if not sql)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_text_query_matches_oracle(spark, sf_dir, duck, name):
    fn, sql = TEXT_QUERIES[name]
    assert_matches_oracle(fn(spark, sf_dir), duck, sql, name=name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    fn, _ = TEXT_QUERIES[name]
    df = fn(spark, sf_dir)
    assert df.count() >= 0  # runs, stable schema
    assert len(df.columns) >= 2


def test_embedding_dedup_band_blocks_bounded(spark, sf_dir):
    """dedup_embedding_cosine's candidate blocks are (label, table,
    sign-band) — banding must SUBDIVIDE every label so no label forms
    one quadratic block (the round-2 scale flag). Pins the observed
    block bound: max band-block ≪ max label size, and total candidate
    pairs well under the unblocked label-pair count."""
    from time_series_prediction_spark.plans.text_queries import (
        _BANDS_SPARK,
        N_BAND_TABLES,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", "vec_id", similarity.quantize("embedding").alias("qv")
    )
    blocks = (
        q.select("label", F.posexplode(F.expr(_BANDS_SPARK)).alias("tbl", "band"))
        .groupBy("label", "tbl", "band")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    label_sizes = q.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    max_block = blocks.agg(F.max("n")).first()[0]
    max_label = label_sizes.agg(F.max("n")).first()[0]
    # every label splits into ~2^BAND_BITS buckets per table: the
    # largest block must be a small fraction of the largest label
    assert max_block <= max(4, max_label // 4)
    # candidate pairs (sum over blocks of C(n,2), ×tables) stay well
    # under the unblocked per-label pair count
    cand_pairs = blocks.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
    ).first()[0]
    unblocked_pairs = label_sizes.agg(
        F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("p")
    ).first()[0]
    assert cand_pairs < unblocked_pairs  # strict reduction incl. 8-table union
    assert cand_pairs / N_BAND_TABLES < unblocked_pairs / 8


def test_minhash_estimates_track_exact_jaccard(spark, sf_dir):
    """MinHash estimate within 0.25 of exact Jaccard for sampled pairs."""
    docs = read_table(spark, sf_dir, "documents").limit(60)
    sh = docs.select(
        "doc_id", dedup.word_shingles().alias("shingles")
    ).where(F.size("shingles") > 0)
    sigs = sh.select(
        "doc_id", dedup.minhash_signature("shingles", 64).alias("sig"), "shingles"
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.expr(
                "CAST(size(array_intersect(a.shingles, b.shingles)) AS DOUBLE)"
                " / size(array_union(a.shingles, b.shingles))"
            ).alias("exact"),
            dedup.minhash_estimate("a.sig", "b.sig").alias("est"),
        )
    )
    stats = pairs.agg(
        F.max(F.abs(F.col("exact") - F.col("est"))).alias("max_err"),
        F.avg(F.abs(F.col("exact") - F.col("est"))).alias("avg_err"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert stats["n"] > 1000
    assert stats["avg_err"] < 0.08, f"avg err {stats['avg_err']}"
    assert stats["max_err"] < 0.35, f"max err {stats['max_err']}"


def test_simhash_separates_near_dups_from_random_pairs(spark, sf_dir):
    """SimHash Hamming distance of a doc vs its ~90%-overlap mutation
    must be clearly below the distance between unrelated docs."""
    docs = read_table(spark, sf_dir, "documents").limit(60)
    # mutated copy: drop every 10th word -> high shingle overlap
    mutated = docs.select(
        "doc_id",
        F.expr(
            "array_join(filter(split(text, ' '), (w, i) -> i % 10 != 0), ' ')"
        ).alias("text"),
    )
    orig_sigs = dedup.simhash_sigs_pass(docs)
    mut_sigs = dedup.simhash_sigs_pass(mutated)
    near = orig_sigs.alias("a").join(
        mut_sigs.alias("b"), F.col("a.doc_id") == F.col("b.doc_id")
    ).select(dedup.hamming64("a.sig", "b.sig").alias("ham"))
    far = orig_sigs.alias("a").join(
        orig_sigs.alias("b"), F.col("a.doc_id") < F.col("b.doc_id")
    ).select(dedup.hamming64("a.sig", "b.sig").alias("ham"))
    near_mean = near.agg(F.avg("ham")).first()[0]
    far_mean = far.agg(F.avg("ham")).first()[0]
    assert near_mean < far_mean * 0.6, f"near={near_mean:.1f} far={far_mean:.1f}"


def _simhash64_fold(shingles_col: str):
    """The 64-bit SimHash as a Spark SQL fold, the form the DuckDB
    oracle mirrors: each shingle hashes to (hi << 32) | lo of its md5's
    first 16 hex chars, and bit b is set iff more than half of the
    shingle hashes have it set."""
    return F.expr(
        f"transform(array(transform({shingles_col}, s -> "
        f"transform(array(md5(s)), m -> "
        f"shiftleft(CAST(conv(substr(m, 1, 8), 16, 10) AS BIGINT), 32) | "
        f"CAST(conv(substr(m, 9, 8), 16, 10) AS BIGINT))[0])), _h -> "
        f"aggregate(sequence(0, 63), 0L, (acc, bit) -> "
        f"acc + CASE WHEN 2 * size(filter(_h, v -> (shiftright(v, bit) & 1) = 1)) > size(_h) "
        f"THEN shiftleft(1L, bit) ELSE 0L END))[0]"
    )


def test_simhash_sigs_pass_matches_expression(spark, sf_dir):
    """The Arrow/NumPy signature pass must be bit-identical to the
    SimHash SQL fold on the real fixture corpus — including dropped
    short/empty docs."""
    from time_series_prediction_spark.sources.io import read_table

    docs = read_table(spark, sf_dir, "documents")
    via_expr = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", dedup.word_shingles().alias("shingles")
        )
        .where(F.size("shingles") > 0)
        .select("doc_id", _simhash64_fold("shingles").alias("sig"))
        .collect()
    }
    via_pass = {
        r["doc_id"]: r["sig"]
        for r in dedup.simhash_sigs_pass(docs).collect()
    }
    assert via_pass == via_expr


def test_simhash_blocking_plan_scales():
    """Plan math: fixture scale degenerates to the classic four 16-bit
    words; web scale widens keys so EXPECTED bucket membership
    n / 2^key_bits stays bounded instead of growing linearly."""
    import math

    from time_series_prediction_spark.operators.dedup import (
        simhash_blocking_plan,
    )

    assert simhash_blocking_plan(60_000) == (4, [(0,), (1,), (2,), (3,)])
    for n in (10**8, 10**10, 10**12):
        m, combos = simhash_blocking_plan(n)
        key_bits = (m - 3) * (64 // m)
        assert n / 2.0**key_bits <= 1024, (n, m)
        assert len(combos) == math.comb(m, 3)
        assert all(len(c) == m - 3 for c in combos)


def test_simhash_adaptive_banding_same_pairs_and_bounded_buckets(
    spark, sf_dir
):
    """Forcing the web-scale plan (as if the corpus were 1e11 docs,
    i.e. a >100× skew vs the actual rows) on fixture data must (a)
    still find every planted exact duplicate and the identical
    Hamming≤3 pair set as the small-corpus plan — the pigeonhole
    guarantee — and (b) keep max observed bucket membership at the
    duplicate multiplicity, not corpus-sized."""
    from time_series_prediction_spark.operators.dedup import (
        _block_key_expr,
        simhash_blocking_plan,
    )

    base = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .limit(200)
    )
    planted = base.limit(30).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(planted)
    small = dedup.simhash_near_pairs(docs, n_docs=230)
    big = dedup.simhash_near_pairs(docs, n_docs=10**11)
    s3 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in small.where("hamming <= 3").collect()
    }
    b3 = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in big.where("hamming <= 3").collect()
    }
    assert s3 == b3
    planted_pairs = {
        (r["doc_id"], r["doc_id"] + 1_000_000) for r in base.limit(30).collect()
    }
    assert planted_pairs <= b3
    # bucket membership under the forced web-scale plan
    m, combos = simhash_blocking_plan(10**11)
    assert m > 4
    sigs = dedup.simhash_sigs_pass(docs)
    keys = ", ".join(_block_key_expr("sig", c, m) for c in combos)
    max_bucket = (
        sigs.select(
            F.posexplode(F.expr(f"array({keys})")).alias("word", "word_val")
        )
        .groupBy("word", "word_val")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_bucket <= 8, max_bucket


def test_stratified_sample_deterministic_and_proportional(spark, sf_dir):
    """Hash-threshold sampling: identical resample on re-run, exact
    per-stratum counts recomputable in plain Python from the md5 rule,
    and counts within binomial noise of the target fractions."""
    import hashlib

    from time_series_prediction_spark.plans.text_queries import (
        _STRATA_FRACTIONS,
        _STRATA_OTHER,
        _STRATA_SEED,
        _stratum_threshold_hex,
        doc_stratified_sample,
    )

    a = {r["lang"]: r["n_sampled"] for r in doc_stratified_sample(spark, sf_dir).collect()}
    b = {r["lang"]: r["n_sampled"] for r in doc_stratified_sample(spark, sf_dir).collect()}
    assert a == b, "hash-threshold sample not deterministic"
    # exact expected counts: replay the md5 rule in Python
    rows = (
        read_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    )
    expect: dict[str, int] = {}
    for r in rows:
        frac = _STRATA_FRACTIONS.get(r["lang"], _STRATA_OTHER)
        u = hashlib.md5(f"{r['doc_id']}:{_STRATA_SEED}".encode()).hexdigest()[:8]
        if u < _stratum_threshold_hex(frac):
            expect[r["lang"]] = expect.get(r["lang"], 0) + 1
    assert a == expect, "Spark sample differs from the md5 rule"
    totals: dict[str, int] = {}
    for r in rows:
        totals[r["lang"]] = totals.get(r["lang"], 0) + 1
    for lang, n in totals.items():
        frac = _STRATA_FRACTIONS.get(lang, _STRATA_OTHER)
        got = a.get(lang, 0)
        sd = (n * frac * (1 - frac)) ** 0.5
        assert abs(got - n * frac) <= max(4 * sd, 5), (lang, got, n * frac)


def test_packing_invariants(spark, sf_dir):
    """Every doc packed exactly once; no bin over budget unless it
    holds a single oversized doc; deterministic across runs."""
    from time_series_prediction_spark.operators import text
    from time_series_prediction_spark.operators.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    packed = pack_documents(docs, budget=512, n_groups=8).cache()
    n_docs = docs.count()
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs
    bins = packed.groupBy("bin_id").agg(
        F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n")
    )
    over = bins.where((F.col("fill") > 512) & (F.col("n") > 1)).count()
    assert over == 0, "multi-doc bin exceeds budget"
    again = pack_documents(docs, budget=512, n_groups=8)
    assert packed.exceptAll(again).count() == 0
    packed.unpersist()


def test_harmonic_packing_invariants(spark, sf_dir):
    """Harmonic size-class packing: every doc exactly once; no
    multi-doc bin over budget; every FULL bin (c docs of class c)
    fills beyond c/(c+1) of the budget — the scheme's provable
    lower bound (only the last bin per class may be underfull)."""
    from time_series_prediction_spark.operators import text
    from time_series_prediction_spark.operators.packing import (
        pack_documents_harmonic,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    packed = pack_documents_harmonic(docs, budget=512).cache()
    n_docs = docs.count()
    assert packed.count() == n_docs
    assert packed.select("doc_id").distinct().count() == n_docs
    bins = packed.groupBy(
        F.shiftright("bin_id", 40).alias("c"), "bin_id"
    ).agg(F.sum("n_tokens").alias("fill"), F.count(F.lit(1)).alias("n"))
    assert bins.where((F.col("fill") > 512) & (F.col("n") > 1)).count() == 0
    underfull = bins.where(
        (F.col("c") >= 1)
        & (F.col("n") == F.col("c"))  # full bin of its class
        & (F.col("fill") * (F.col("c") + 1) <= 512 * F.col("c"))
    ).count()
    assert underfull == 0, "full bin at or below the c/(c+1) bound"
    packed.unpersist()


def test_packing_group_count_scales_with_corpus(spark, sf_dir):
    """The scale contract: with the derived default, per-group row
    count stays under a ceiling no matter the corpus size (each group
    is one in-memory Arrow batch). rows_per_group=50 on the fixture
    forces multiple groups; hash placement is uneven, so the bound
    allows 2x slack over the target."""
    from time_series_prediction_spark.operators import text
    from time_series_prediction_spark.operators.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    n_docs = docs.count()
    assert n_docs > 100  # the fixture is big enough to force >2 groups
    packed = pack_documents(docs, budget=512, rows_per_group=50)
    per_group = (
        packed.groupBy(F.shiftright("bin_id", 40).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    expect_groups = -(-n_docs // 50)
    assert len(per_group) <= expect_groups
    assert max(r["n"] for r in per_group) <= 2 * 50, "group exceeded ceiling"
    assert sum(r["n"] for r in per_group) == n_docs


def test_packing_bin_sums_match_duckdb(spark, sf_dir, duck):
    """Cross-engine check of everything except the (engine-specific)
    BFD placement itself: hand DuckDB only the emitted (doc_id →
    bin_id) assignment and let it recompute token counts from the raw
    documents table plus the per-bin aggregation; the result must
    equal doc_packing_stats' output exactly."""
    from time_series_prediction_spark.plans.text_queries import (
        doc_packing_stats,
    )
    from time_series_prediction_spark.operators import text
    from time_series_prediction_spark.operators.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    cls = F.when(F.col("n_tokens") > 512, F.lit(0)).otherwise(
        F.floor(F.lit(512) / F.col("n_tokens"))
    )
    assignment = (
        pack_documents(docs, budget=512, group_expr=cls)
        .select("doc_id", "bin_id")
        .toPandas()
    )
    duck.register("assignment", assignment)
    want = {
        (r[0], r[1], r[2])
        for r in duck.execute(
            """
            SELECT a.bin_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
                     AS bin_tokens
            FROM assignment a JOIN documents d ON a.doc_id = d.doc_id
            GROUP BY a.bin_id
            """
        ).fetchall()
    }
    got = {
        (r["bin_id"], r["n_docs"], r["bin_tokens"])
        for r in doc_packing_stats(spark, sf_dir).collect()
    }
    duck.unregister("assignment")
    assert got == want


def test_class_bucketed_bfd_equals_harmonic_closed_form(spark, sf_dir):
    """Round-9 VERDICT #5: bucketing docs by capacity class
    floor(budget/len) before partition-local BFD makes the real BFD
    kernel provably closed-form — within a class, best-fit fills bins
    to exactly c docs in (length desc, id asc) order. The BFD kernel's
    bins must therefore equal pack_documents_harmonic's window-rank
    bins EXACTLY (bin ids included), which is what lets
    doc_packing_stats carry a full DuckDB oracle instead of a
    rows-only check."""
    from time_series_prediction_spark.operators import text
    from time_series_prediction_spark.operators.packing import (
        pack_documents,
        pack_documents_harmonic,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.token_count("text").alias("n_tokens")
    )
    cls = F.when(F.col("n_tokens") > 512, F.lit(0)).otherwise(
        F.floor(F.lit(512) / F.col("n_tokens"))
    )
    bfd = sorted(
        map(tuple, pack_documents(docs, budget=512, group_expr=cls)
            .select("doc_id", "bin_id").collect())
    )
    harmonic = sorted(
        map(tuple, pack_documents_harmonic(docs, budget=512)
            .select("doc_id", "bin_id").collect())
    )
    assert bfd == harmonic


def test_recall_eval_matches_component_queries(spark, sf_dir):
    """recall@10 must equal the actual overlap of the two already-
    registered component queries (brute-force exact top-10 vs the LSH
    index top-10), recomputed here set-wise — and sit in a sane band
    (every query answered, recall in [0, 1], panel mean above the
    tuned operating floor)."""
    from time_series_prediction_spark.operators.kmeans_exact import (
        lsh_ann_exact,
    )
    from time_series_prediction_spark.plans.text_queries import (
        embedding_cosine_topk,
        embedding_recall_eval,
    )

    got = {
        r["query_id"]: r
        for r in embedding_recall_eval(spark, sf_dir).collect()
    }
    assert sorted(got) == list(range(10))
    emb = read_table(spark, sf_dir, "embeddings")
    exact: dict[int, set[int]] = {}
    for r in embedding_cosine_topk(spark, sf_dir).collect():
        exact.setdefault(r["query_id"], set()).add(r["corpus_id"])
    ann: dict[int, set[int]] = {}
    for r in lsh_ann_exact(
        emb, k=10, n_queries=10, n_planes=4, n_tables=16
    ).collect():
        ann.setdefault(r["query_id"], set()).add(r["corpus_id"])
    for qid, row in got.items():
        hits = len(exact[qid] & ann.get(qid, set()))
        assert row["hits_at_10"] == hits, qid
        assert row["recall_at_10"] == hits / 10.0
        assert 0.0 <= row["recall_at_10"] <= 1.0
    mean_recall = sum(r["recall_at_10"] for r in got.values()) / 10
    assert mean_recall >= 0.5, mean_recall
