"""Plan-quality regression tests: the scale-relevant physical-plan
properties must not silently regress (pushdown, pruning, broadcast
strategy, shuffle counts)."""

from __future__ import annotations

import re

from time_series_prediction_spark.plans.flagship import cashflow_wide_pipeline
from time_series_prediction_spark.model.scoring import (
    last_value_model_factory,
    score_dataframe,
)
from time_series_prediction_spark.plans.preprocess import (
    clean_series,
    post_processing,
    pre_processing,
    r2_metrics,
    train_val_test_split,
)
from time_series_prediction_spark.plans.relational import (
    q1_pricing_summary,
    q5_local_supplier_volume,
)
from time_series_prediction_spark.sources.generate import generate_series_frame


# freq=30 trend: 0.5·x[i-15] + Σ slice(x, i-13, 29) + 0.5·x[i+15]
_TREND_BODY = re.compile(
    r"aggregate\(slice\(balance#\d+, \(\(lambda i#\d+ - 15\) \+ 2\), 29\)"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(q1_pricing_summary(spark, sf_dir))
    # shipdate predicate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the needed 7 of 11 lineitem columns are read
    assert "l_orderkey" not in plan.split("ReadSchema")[1][:400]
    # exactly one exchange (partial agg -> final agg)
    assert plan.count("Exchange") == 1


def test_q5_broadcasts_every_dimension(spark, sf_dir):
    plan = _plan(q5_local_supplier_volume(spark, sf_dir))
    # all five joins resolve to broadcast-hash at fixture sizes: the
    # lineitem side must never shuffle-exchange for a join
    assert plan.count("BroadcastHashJoin") == 5
    assert "SortMergeJoin" not in plan
    # one exchange total (the final groupBy)
    assert plan.count("Exchange hashpartitioning") == 1


def _serve_frame(raw):
    """Serve's full plan: pre-processing, scoring, post-processing and
    the R² metrics, as perfbench's serve unit builds it."""
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=False)
    scored = score_dataframe(pre, last_value_model_factory())
    return r2_metrics(post_processing(scored), y_days=92)


def test_preprocessing_is_single_narrow_stage(spark):
    """Pre-processing is one narrow stage with exactly ONE Python node:
    the NumPy kernels (mean, std, scaling, X, y) and, on the serve
    path, the scorer chained over X all evaluate in one
    ``ArrowEvalPython`` node, so a task holds one Python worker. Holds
    for both modes, for serve's full plan and for training's split."""
    raw = generate_series_frame(spark, 10, seed=1)
    plans = {
        f"pre_processing(serving={serving})": _plan(
            pre_processing(raw, "2020-03-31", serving=serving)
        )
        for serving in (False, True)
    }
    plans["serve"] = _plan(_serve_frame(raw))
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=False)
    plans["train split"] = _plan(train_val_test_split(pre)[0])
    for what, plan in plans.items():
        assert plan.count("ArrowEvalPython") == 1, (what, plan)
        assert "BatchEvalPython" not in plan, what
        if what.startswith("pre_processing"):
            assert "Exchange" not in plan, (what, plan)


def test_serve_plan_prunes_the_trend(spark):
    """Serve reads neither the trend nor its extrapolation (retrend is
    the as-shipped no-op), so its optimized plan holds no moving-average
    fold at all."""
    raw = generate_series_frame(spark, 4, seed=1)
    opt = _serve_frame(raw)._jdf.queryExecution().optimizedPlan().toString()
    assert "balance_trend_1MW" not in opt
    assert not _TREND_BODY.search(opt), opt


def test_r2_metrics_folds_each_sst_once(spark):
    """``r2_metrics``' per-series CASE reads SST twice; bound once, each
    window (3 months, 1 month) holds one SST fold in serve's optimized
    plan, not two."""
    raw = generate_series_frame(spark, 4, seed=1)
    opt = _serve_frame(raw)._jdf.queryExecution().optimizedPlan().toString()
    sst = re.compile(
        r"- lambda _m#\d+\) \* \(cast\(lambda v#\d+ as double\) - lambda _m#\d+\)"
    )
    assert len(sst.findall(opt)) == 2, opt


def test_preprocessing_evaluates_trend_once(spark):
    """The serving columns that both read the trend
    (``trend_next_3months_1MW`` and ``trajectory_6months``) must share
    ONE evaluation of its moving-average body in the optimized plan:
    interpreted higher-order functions get no common-subexpression
    elimination, so a plan that inlines the trend into each consumer
    pays for it once per consumer."""
    raw = generate_series_frame(spark, 4, seed=1)
    pre = pre_processing(raw, "2020-03-31", serving=True).select(
        "trend_next_3months_1MW", "trajectory_6months"
    )
    opt = pre._jdf.queryExecution().optimizedPlan().toString()
    assert len(_TREND_BODY.findall(opt)) == 1, opt


_KERNELS = ("_series_mean_udf", "_series_std_udf", "_scaling_udf", "_get_x", "_get_y")


def test_preprocessing_outputs_fold_each_series_once(spark):
    """Each kernel runs once per row: every pre_processing output
    selected on its own, and post_processing's rescaled prediction,
    holds each NumPy kernel at most once in the optimized plan. Each
    output also collects on its own: a JVM expression as a kernel's
    argument fails to evaluate (``Cannot evaluate expression``)."""
    from pyspark.sql import functions as F

    raw = generate_series_frame(spark, 4, seed=1)
    for serving in (False, True):
        pre = pre_processing(raw, "2020-03-31", serving=serving)
        frames = {c: pre.select(c) for c in pre.columns if c not in raw.columns}
        # a prediction that does not read mean/std, like the UDF's output
        scored = pre.withColumn("y_pred", F.expr("slice(balance, 1, 92)"))
        frames["y_pred_rescaled"] = post_processing(scored).select(
            "y_pred_rescaled"
        )
        for col, df in frames.items():
            opt = df._jdf.queryExecution().optimizedPlan().toString()
            for kernel in _KERNELS:
                assert opt.count(f"{kernel}(") <= 1, (serving, col, kernel, opt)
            assert len(df.collect()) == 4, (serving, col)


_PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
}


def _python_nodes_per_stage(df) -> list[list[str]]:
    """The Python-evaluating nodes of each stage of ``df``'s physical
    plan (AQE's initial plan); a stage ends at an exchange."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()
    stages: list[list[str]] = [[]]

    def walk(node, stage):
        name = node.nodeName()
        if "Exchange" in name:
            stage = []
            stages.append(stage)
        elif name in _PYTHON_NODES:
            stage.append(name)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), stage)

    walk(root, stages[0])
    return stages


def test_cashflow_queries_hold_one_python_node_per_stage(spark, sf_dir):
    """Each Python node in a stage holds one more Python worker per
    task, so a second one in the same stage costs a worker per core and
    its memory. The four ``cashflow_*`` registry queries keep at most
    one per stage: the synthetic pipeline's generator (``MapInPandas``)
    and the scoring pipeline's kernels and scorer (one
    ``ArrowEvalPython``)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    names = sorted(n for n in qs if n.startswith("cashflow_"))
    assert len(names) == 4, names
    found = {}
    for name in names:
        stages = _python_nodes_per_stage(qs[name](spark, sf_dir))
        assert all(len(s) <= 1 for s in stages), (name, stages)
        found[name] = sorted(n for s in stages for n in s)
    assert found["cashflow_synthetic_pipeline"] == ["MapInPandas"], found
    assert found["cashflow_scoring_pipeline"] == ["ArrowEvalPython"], found


def test_flagship_shuffle_budget(spark, sf_dir):
    plan = _plan(cashflow_wide_pipeline(spark, sf_dir))
    # rollup exchange + collect exchange only
    assert plan.count("Exchange hashpartitioning") == 2
    assert "BatchEvalPython" not in plan


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Chunking must stay a pure map over the corpus scan — at 100 TB
    any exchange here would reshuffle the whole corpus."""
    from time_series_prediction_spark.plans.text_queries import doc_chunks

    plan = _plan(doc_chunks(spark, sf_dir))
    assert "Exchange" not in plan


def test_q7_broadcasts_nations_no_nested_loop(spark, sf_dir):
    """Q7's two nation joins must be broadcast hash joins; the
    fact-side joins must never degrade to nested loops."""
    from time_series_prediction_spark.plans.relational3 import (
        q7_volume_shipping,
    )

    plan = _plan(q7_volume_shipping(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_containment_pairs_are_equi_joined(spark, sf_dir):
    """The containment self-join must stay a blocked equi-join — a
    cross product over the corpus is the classic near-dup scale
    failure."""
    from time_series_prediction_spark.plans.text_queries2 import (
        dedup_containment,
    )

    plan = _plan(dedup_containment(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_sample_single_corpus_shuffle(spark, sf_dir):
    """The rate table must come back to the corpus as a broadcast —
    the docs scan joins without a shuffle exchange on its side, and
    only the lang-level aggregates repartition."""
    from time_series_prediction_spark.plans.text_queries2 import (
        corpus_temperature_sample,
    )

    plan = _plan(corpus_temperature_sample(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_batch_dedup_equi_joins_only(spark, sf_dir):
    """Both corpus-key lookups must be hash equi-joins (no nested loop
    or cartesian — at 100 TB the corpus side is the big one), and the
    corpus/batch split predicates must reach the parquet scan."""
    from time_series_prediction_spark.plans.text_queries3 import (
        dedup_incremental_batch,
    )

    plan = _plan(dedup_incremental_batch(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_source_overlap_is_blocked_equi_join(spark, sf_dir):
    """The source-pair overlap self-join must join on the fingerprint
    equality (the source ordering is a post-join filter) — never a
    cross product of sources."""
    from time_series_prediction_spark.plans.text_queries3 import (
        corpus_source_overlap,
    )

    plan = _plan(corpus_source_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_substring_spans_no_python_no_cartesian(spark, sf_dir):
    """The substring-span pipeline must stay JVM-side (pure expressions
    + window) with equi-only joins — the shingle table is |tokens| rows
    and any nested loop or Python stage over it would dominate at
    scale."""
    from time_series_prediction_spark.plans.text_queries3 import (
        corpus_dup_substring_spans,
    )

    plan = _plan(corpus_dup_substring_spans(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# plan budgets for EVERY rows-only registry query
# ---------------------------------------------------------------------------

# Queries without a DuckDB oracle get their scale posture pinned here
# instead: no row-at-a-time Python, no nested-loop/cartesian join, a
# bounded number of exchanges, and Arrow/pandas stages only where the
# query DECLARES a genuine Python stage (vector math, model scoring,
# per-shard packing, multimodal decode). Ceilings are the measured
# plan shapes — a regression that adds an exchange or a Python stage
# fails loudly.
_ROWS_ONLY_BUDGET = {
    # name: (max_exchanges, max_arrow_stages, max_pandas_group_stages)
    # approx_distinct_users_daily graduated to oracle-backed in round
    # 8 (portable HLL, operators/sketch_portable.py)
    # cashflow_scoring_pipeline graduated to oracle-backed in round 8
    # (last-value pandas_udf is float32 passthrough; ppm-quantized R²)
    # cashflow_synthetic_pipeline graduated to oracle-backed in round
    # 11 (md5-replayed generator, sources/generate.duckdb_series_cte)
    # doc_packing_stats graduated to oracle-backed in round 10:
    # capacity-class bucketing makes the BFD kernel's bins equal the
    # harmonic closed form bin-for-bin, so DuckDB replays them
    # embedding_{ivf,pq,lsh}_ann moved OUT of rows-only in round 8:
    # the exact-integer quantizer/plane families made the whole ANN
    # pipelines (training included) oracle-checkable
    # multimodal_features graduated to oracle-backed in round 12
    # (byte-histogram counts reconstructed exactly in DuckDB over
    # hex(encode(text)) byte pairs); its mapInPandas plan shape is
    # still pinned by test_multimodal plumbing tests
    # r13: both native-sketch queries became SELF-VERIFYING — each
    # joins its oracle-backed portable twin inline and emits a gap
    # column (bounds pinned in test_sketch_portable). The twin's fold
    # (portable HLL register max / log-linear quantile histogram +
    # window) adds the extra exchanges; the native side is unchanged.
    "events_dau_sketch_rollup": (5, 0, 0),
    "lineitem_quantiles_approx": (4, 0, 0),
}


def test_rows_only_budget_covers_registry():
    """Every rows-only registry query must have a plan budget here —
    adding a query without an oracle requires declaring its plan
    shape."""
    import __spark_entry__ as entrymod

    rows_only = set(entrymod.queries()) - set(entrymod.oracle_sql())
    assert rows_only == set(_ROWS_ONLY_BUDGET), (
        rows_only ^ set(_ROWS_ONLY_BUDGET)
    )


def test_rows_only_queries_meet_plan_budget(spark, sf_dir):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    failures = []
    for name, (max_ex, max_arrow, max_pgroups) in sorted(
        _ROWS_ONLY_BUDGET.items()
    ):
        plan = _plan(qs[name](spark, sf_dir))
        arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        checks = [
            (plan.count("BatchEvalPython") == 0, "row-at-a-time Python"),
            (plan.count("BroadcastNestedLoopJoin") == 0, "nested-loop join"),
            (plan.count("CartesianProduct") == 0, "cartesian product"),
            (plan.count("Exchange") <= max_ex, "exchange budget"),
            (arrow <= max_arrow, "arrow-stage budget"),
            (
                plan.count("FlatMapGroupsInPandas") <= max_pgroups,
                "pandas-group budget",
            ),
        ]
        for ok, what in checks:
            if not ok:
                failures.append(f"{name}: {what}")
    assert not failures, failures


def test_bloom_pruned_join_injects_runtime_filter(spark, sf_dir):
    """bloom_pruned_join must carry the injected runtime bloom filter
    (might_contain on the fact side's join key, bloom_filter_agg over
    the filtered dim keys) — the semi-join reduction that drops
    non-matching fact rows BEFORE the shuffle at warehouse scale. And
    the temporarily tuned session confs must be restored: a fresh,
    identical join planned afterwards gets NO bloom filter."""
    from time_series_prediction_spark.plans.relational4 import (
        bloom_pruned_join,
    )

    df = bloom_pruned_join(spark, sf_dir)
    plan = _plan(df)
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan
    # conf restore: defaults back in place, fresh plans unaffected
    assert (
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fresh = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).count()
    assert "might_contain" not in _plan(fresh)


def test_quality_audit_scan_budget(spark, sf_dir):
    """One conditional-aggregate pass per table + one single-pass FK
    join: exactly four file scans however many checks are declared,
    and zero Python."""
    from time_series_prediction_spark.plans.warehouse_queries import (
        orders_quality_audit,
    )

    plan = _plan(orders_quality_audit(spark, sf_dir))
    assert plan.count("FileScan") == 4
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_backtest_shuffle_budget(spark, sf_dir):
    """Rolling-origin backtest: broadcast cutoffs (the daily scan must
    not shuffle for the train join), bounded exchanges, no Python."""
    from time_series_prediction_spark.plans.timeseries_queries2 import (
        ts_backtest_linear,
    )

    plan = _plan(ts_backtest_linear(spark, sf_dir))
    assert plan.count("FileScan") == 2  # train pass + actuals pass
    assert plan.count("Exchange") <= 5
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_cow_read_path_plans_are_clean(spark, sf_dir):
    """The cow registry queries' READ path (post-build) must stay
    pure scan + aggregate: no Python stages, no nested loops, and a
    single exchange for the final groupBy. The build (footer stats
    via mapInPandas) happens at commit time, never per query."""
    from time_series_prediction_spark.plans.table_queries import (
        orders_cow_current_scan,
        orders_cow_time_travel,
    )

    for fn in (orders_cow_current_scan, orders_cow_time_travel):
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, fn.__name__
        assert "ArrowEvalPython" not in plan, fn.__name__
        assert "MapInPandas" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert plan.count("Exchange") <= 1, (fn.__name__, plan)


def test_bm25_scoring_pass_is_pure_map(spark, sf_dir):
    """BM25's corpus scoring pass must be a scan + 1-row broadcast +
    TakeOrdered: the ONLY exchange allowed is the corpus-stats reduce
    to one row, and tokenization must never explode-shuffle."""
    from time_series_prediction_spark.plans.text_queries3 import (
        doc_bm25_topk,
    )

    plan = _plan(doc_bm25_topk(spark, sf_dir))
    # zero wide shuffles: the only exchanges are the 1-row stats
    # reduce (SinglePartition) and the idf broadcast
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange SinglePartition") == 1
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan
    # the corpus side never token-explodes; the one Generate in the
    # plan is the 4-row term unpivot on the stats row
    assert plan.count("Generate") <= 1


def test_top_paths_single_window_pass(spark, sf_dir):
    """Trigram mining is ONE (user_id) shuffle for the window pass +
    the tiny-keyspace aggregate — never a self-join on ranks."""
    from time_series_prediction_spark.plans.journey_queries import (
        events_top_paths,
    )

    plan = _plan(events_top_paths(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "TakeOrderedAndProject" in plan


def test_triangle_panel_prunes_before_pair_explosion(spark, sf_dir):
    """The triangle build must broadcast-prune the fact table to the
    panel BEFORE any pair self-join — a shuffle join against the raw
    fact table here would be the quadratic shape the panel exists to
    prevent. (Asserted on the pre-checkpoint edge plan: the
    materialize() inside _triangle_table hides it from the final
    plan.)"""
    from pyspark.sql import functions as F

    from time_series_prediction_spark.plans.graph_queries import (
        _TRI_PANEL,
    )
    from time_series_prediction_spark.sources.io import read_table

    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    top = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("l_partkey"))
        .limit(_TRI_PANEL)
        .select(F.col("l_partkey").alias("node"))
    )
    sub = li.join(F.broadcast(top), li.l_partkey == top.node)
    plan = _plan(sub)
    assert "BroadcastHashJoin" in plan  # the 200-key panel prune
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_row_id_read_is_broadcast_only(spark, tmp_path):
    """read_delta_with_row_ids must attach row ids via metadata-sized
    BROADCAST joins (per-file base map + DV anti-join) — a sort-merge
    join or shuffle exchange on the scan side would reshuffle the
    whole table at 100 TB just to number its rows."""
    import time_series_prediction_spark.sources.deltalog as dl
    from pyspark.sql import functions as F  # noqa: F401

    t = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(500).selectExpr(f"id*3+{i} AS k", "id AS v"),
            t, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_enable_row_tracking(spark, t)
    dl.delta_delete(spark, t, "k % 11 = 0")
    plan = _plan(dl.read_delta_with_row_ids(spark, t))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan
