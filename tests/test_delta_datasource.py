"""PySpark 4 Python Data Source over the native Delta log
(sources/delta_datasource): batch parity with the JVM-side reader on
DV-bearing partitioned tables, rate-bounded streaming drain,
checkpointed exactly-once resume, and the honest refusals."""

from __future__ import annotations

import os
import tempfile

import pytest

import time_series_prediction_spark.sources.deltalog as dl
from time_series_prediction_spark.sources.delta_datasource import (
    TspDeltaDataSource,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(TspDeltaDataSource)


def test_batch_read_matches_native_reader(spark, tmp_path):
    """format('tspdelta') batch == read_delta_log on a converted,
    Hive-partitioned table with a DV delete: same schema (typed
    partition columns), same rows; schema-evolved nulls surface."""
    t = str(tmp_path / "t")
    spark.range(200).selectExpr(
        "id AS k", "id % 3 AS part", "id * 2 AS v"
    ).write.partitionBy("part").parquet(t)
    dl.delta_convert_to_delta(spark, t)
    dl.delta_delete(spark, t, "k % 10 = 0")
    # schema evolution: a later append adds a column (old files null)
    dl.write_delta_log(
        spark.createDataFrame(
            [(1000, 1, 2000, "x")],
            "k long, part int, v long, s string",
        ),
        t, mode="append", partition_cols=["part"],
    )
    got = spark.read.format("tspdelta").load(t)
    want = dl.read_delta_log(spark, t)
    assert got.schema == want.schema
    key = lambda r: (r["k"], r["part"], r["v"], r["s"])  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(
        map(key, want.collect())
    )
    assert got.where("s IS NULL").count() == 180


def test_stream_bounded_drain_and_resume(spark, tmp_path):
    """readStream with maxVersionsPerBatch=1 drains a 3-commit
    backlog one commit per microbatch; a restart from the same
    checkpoint delivers ONLY the new commit (exactly-once across
    restarts rides Spark's offset log)."""
    t = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(10 * i, 10 * i + 10).selectExpr(
                "id AS k", "id * 2 AS v"
            ),
            t, mode="overwrite" if i == 0 else "append",
        )
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(30))
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) == 3  # one commit per bounded batch
    assert all(p["numInputRows"] == 10 for p in data_batches)

    dl.write_delta_log(
        spark.range(100, 105).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",
    )
    q2 = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(t)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got2 == list(range(30)) + list(range(100, 105))


def test_stream_delete_refusal_and_ignore(spark, tmp_path):
    """The streaming-source contract: a dataChange remove in the
    window fails the stream unless ignoreDeletes, which skips the
    change and keeps tailing appends."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(40).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_delete(spark, t, "k < 5", max_dv_rows=0)  # rewrite-shaped
    dl.write_delta_log(
        spark.range(100, 110).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",
    )
    # ONE bounded commit per batch: v0's rows are DELIVERED before
    # the delete's window arrives — the contract violation is a
    # remove of already-delivered data, which must fail the stream
    # (an unbounded first window would legitimately collapse the
    # in-window add+remove instead)
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(t)
        .writeStream.format("memory").queryName("tspds_refuse")
        .option(
            "checkpointLocation", str(tmp_path / "ck1")
        ).start()
    )
    with pytest.raises(Exception, match="deletes delivered data"):
        q.processAllAvailable()
    q.stop()

    q2 = (
        spark.readStream.format("tspdelta")
        .option("ignoreDeletes", "true")
        .option("maxVersionsPerBatch", "1").load(t)
        .writeStream.format("memory").queryName("tspds_ignore")
        .option(
            "checkpointLocation", str(tmp_path / "ck2")
        ).start()
    )
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r["k"]
        for r in spark.sql("SELECT * FROM tspds_ignore").collect()
    )
    # the initial 40 delivered from v0; the rewrite-shaped delete's
    # replacement files re-deliver the SURVIVORS (5..39) — exactly
    # delta-spark's documented ignoreChanges semantics (rewritten
    # rows may duplicate; consumers dedup downstream); the append
    # tails cleanly
    assert got == sorted(
        list(range(40)) + list(range(5, 40)) + list(range(100, 110))
    )


def test_refusals(spark, tmp_path):
    """A pathless load fails; a WRITE to a column-mapped table names
    the remedy (reads work since r14 — see the mapped-read tests)."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_enable_column_mapping(spark, t)
    with pytest.raises(Exception, match="requires a path"):
        spark.read.format("tspdelta").load().collect()
    with pytest.raises(Exception, match="column-mapped"):
        spark.range(3).selectExpr(
            "id AS k", "id * 2 AS v"
        ).write.format("tspdelta").mode("append").save(t)


def test_batch_reads_through_checkpointed_log(spark, tmp_path):
    """The data-source replay handles checkpoint-only logs (classic
    rollup + cleaned JSONs) with pyarrow alone."""
    t = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(5 * i, 5 * i + 5).selectExpr("id AS k"),
            t, mode="overwrite" if i == 0 else "append",
        )
    dl.write_checkpoint(spark, t, clean_old_commits=True)
    got = sorted(
        r["k"]
        for r in spark.read.format("tspdelta").load(t).collect()
    )
    assert got == list(range(15))


def test_batch_write_append_overwrite(spark, tmp_path):
    """write.format('tspdelta'): append and overwrite commit real log
    versions (time travel works); the output reads back identically
    through the JVM-side native reader; staged files never linger."""
    t = str(tmp_path / "t")
    spark.range(10).selectExpr("id AS k", "id * 2 AS v").write.format(
        "tspdelta"
    ).mode("append").save(t)
    spark.range(10, 15).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, t).collect()
    ) == list(range(15))
    spark.range(100, 103).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("overwrite").save(t)
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, t).collect()
    ) == [100, 101, 102]
    assert dl.read_delta_log(spark, t, version=1).count() == 15
    assert not [
        n for n in os.listdir(t) if n.startswith(".tspds-stage-")
    ]
    # schema mismatch refuses with the remedy named
    with pytest.raises(Exception, match="write_delta_log"):
        spark.range(3).selectExpr(
            "id AS k", "CAST(id AS STRING) AS v"
        ).write.format("tspdelta").mode("append").save(t)


def test_stream_write_exactly_once(spark, tmp_path):
    """readStream -> writeStream both through format('tspdelta'): the
    bounded source drains into the native-log sink; txn tokens record
    (appId, batchId) and a REPLAYED microbatch commit is recognized
    and skipped (no duplicate rows, staged files cleaned)."""
    src = str(tmp_path / "src")
    for i in range(3):
        dl.write_delta_log(
            spark.range(10 * i, 10 * i + 10).selectExpr(
                "id AS k", "id * 2 AS v"
            ),
            src, mode="overwrite" if i == 0 else "append",
        )
    dst = str(tmp_path / "dst")
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(src)
        .writeStream.format("tspdelta")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start(dst)
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(
        r["k"] for r in dl.read_delta_log(spark, dst).collect()
    ) == list(range(30))
    _f, _m, v, txns, _p = dl.delta_snapshot(spark, dst)
    assert txns == {"tspdelta-sink": 2}  # batches 0..2 recorded

    # crash-replay of an ALREADY-COMMITTED batch id: skipped entirely
    from pyspark.sql.types import StructType

    from time_series_prediction_spark.sources.delta_datasource import (
        _StagedFiles,
        _TspDeltaWriter,
    )

    schema = StructType.fromJson(
        dl.read_delta_log(spark, dst).schema.jsonValue()
    )
    w = _TspDeltaWriter(dst, schema, {}, False, True)
    staged = os.path.join(dst, ".tspds-stage-replay.parquet")
    spark.range(1).selectExpr(
        "id AS k", "id AS v"
    ).toPandas().to_parquet(staged)
    w.commit([_StagedFiles([("part-replay.parquet", staged)])], 1)
    assert dl.delta_snapshot(spark, dst)[2] == v  # no commit burned
    assert not os.path.exists(staged)  # replay's staging cleaned
    assert dl.read_delta_log(spark, dst).count() == 30
    # a FRESH batch id commits normally
    spark.range(1).selectExpr(
        "id AS k", "id AS v"
    ).toPandas().to_parquet(staged)
    w.commit([_StagedFiles([("part-fresh.parquet", staged)])], 3)
    assert dl.read_delta_log(spark, dst).count() == 31
    assert dl.delta_snapshot(spark, dst)[3]["tspdelta-sink"] == 3


def test_interleaved_plans_stay_correct(spark, tmp_path):
    """Correctness under plan interleaving on ONE reused DataFrame —
    pinned because of the r13 pushFilters finding: Spark 4.1.2 lets
    plans without pushable filters reuse the most recently built V2
    scan for the relation, so a reader whose pushFilters changes
    partitions() poisons sibling plans (measured: df.count() == 50
    after a pruned df.where() on the same relation). This reader
    deliberately implements NO pushdown; every interleaved plan must
    see all files."""
    t = str(tmp_path / "t")
    for i in range(4):
        dl.write_delta_log(
            spark.range(100 * i, 100 * i + 100).selectExpr(
                "id AS k", f"CAST({i % 2} AS LONG) AS grp", "id*2 AS v"
            ).coalesce(1),
            t, mode="overwrite" if i == 0 else "append",
            partition_cols=["grp"],
        )
    base = spark.read.format("tspdelta").load(t)
    assert base.rdd.getNumPartitions() == 4  # one task per file
    assert base.where("k >= 350").count() == 50
    assert base.count() == 400  # NOT poisoned by the previous plan
    assert base.where("grp = 1 and k < 150").count() == 50
    assert base.where("v + k > 0").count() == 399  # k=0 fails it
    assert sorted(
        r["k"] for r in base.where("k >= 350").collect()
    ) == list(range(350, 400))


def test_sink_enforces_check_constraints(spark, tmp_path):
    """VERDICT r13 Next #6: the DS sink now ENFORCES CHECK
    constraints executor-side per batch (DuckDB over the task's
    arrow table) instead of refusing constrained tables — a valid
    batch lands, a violating batch fails the write with the
    constraint named, nothing half-visible lands, and staged files
    are cleaned."""
    t1 = str(tmp_path / "t1")
    dl.write_delta_log(  # v NULLABLE: NULL must pass CHECK below
        spark.createDataFrame(
            [(i, i * 2) for i in range(5)], "k long, v long"
        ),
        t1,
    )
    dl.delta_add_constraint(spark, t1, "v_pos", "v >= 0")
    # a valid batch passes the per-task check and commits
    spark.range(3).selectExpr(
        "id + 100 AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t1)
    assert dl.read_delta_log(spark, t1).count() == 8
    # a violating batch refuses, names the constraint, lands nothing
    with pytest.raises(Exception, match="v_pos"):
        spark.range(3).selectExpr(
            "id AS k", "-1 - id AS v"
        ).write.format("tspdelta").mode("append").save(t1)
    assert dl.read_delta_log(spark, t1).count() == 8  # untouched
    assert not [
        n for n in os.listdir(t1) if n.startswith(".tspds-stage-")
    ]
    # NULL passes CHECK (SQL semantics): only FALSE violates
    spark.sql(
        "SELECT CAST(200 AS LONG) AS k, CAST(NULL AS LONG) AS v"
    ).write.format("tspdelta").mode("append").save(t1)
    assert dl.read_delta_log(spark, t1).count() == 9
    # the JVM-side enforcing writer agrees with what the sink landed
    got = dl.read_delta_log(spark, t1)
    assert got.where("v < 0").count() == 0


def test_sink_materializes_generated_columns(spark, tmp_path):
    """A batch OMITTING a generated column gets it materialized from
    the stored expression executor-side (the classic derived-date
    use); a batch CARRYING one is verified cell-by-cell — a
    contradicting value refuses. The staged files carry the full
    table schema, stats included."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).selectExpr(
            "id AS k", "id * 2 AS v", "id % 4 AS g"
        ),
        t,
    )
    dl.delta_set_generated_column(spark, t, "g", "k % 4")
    # omit g: materialized per batch
    spark.range(100, 104).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    got = {
        r["k"]: r["g"]
        for r in dl.read_delta_log(spark, t).where("k >= 100").collect()
    }
    assert got == {k: k % 4 for k in range(100, 104)}
    # carry g with a WRONG value: refused cell-by-cell
    with pytest.raises(Exception, match="generated"):
        spark.sql(
            "SELECT CAST(200 AS LONG) AS k, CAST(1 AS LONG) AS v, "
            "CAST(99 AS LONG) AS g"
        ).write.format("tspdelta").mode("append").save(t)
    # carry g with the RIGHT value: lands
    spark.sql(
        "SELECT CAST(201 AS LONG) AS k, CAST(1 AS LONG) AS v, "
        "CAST(201 % 4 AS LONG) AS g"
    ).write.format("tspdelta").mode("append").save(t)
    assert dl.read_delta_log(spark, t).where("k = 201").count() == 1


def test_sink_refuses_invariant_bearing_tables(spark, tmp_path):
    """The DS sink lands raw batches with no SparkSession — tables
    whose write path must DERIVE per-row state (identity columns,
    row tracking) or whose mode contradicts a table property
    (append-only overwrites) still refuse with the enforcing writer
    named, instead of being silently corrupted."""
    t3 = str(tmp_path / "t3")
    dl.write_delta_log(
        spark.range(5).selectExpr("id AS k", "id * 2 AS v"), t3
    )
    dl.delta_set_table_property(spark, t3, "delta.appendOnly", "true")
    with pytest.raises(Exception, match="append-only|appendOnly"):
        spark.range(3).selectExpr(
            "id AS k", "id * 2 AS v"
        ).write.format("tspdelta").mode("overwrite").save(t3)
    # plain appends to an append-only table remain fine
    spark.range(100, 103).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t3)
    assert dl.read_delta_log(spark, t3).count() == 8


def test_batch_read_row_tracked_clustered_table(spark, tmp_path):
    """The DS replay handles domainMetadata-bearing logs (row
    tracking high-water mark, clustering domain — configuration is
    JSON TEXT, not an arrow map): batch rows match the JVM reader on
    a row-tracked, clustered, incrementally-optimized table."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(500).selectExpr(
            "id % 5 AS grp", "id AS k", "id % 3 AS v"
        ),
        t, mode="overwrite",
    )
    dl.delta_enable_row_tracking(spark, t)
    dl.delta_cluster_by(spark, t, ["grp", "k"])
    dl.delta_optimize(spark, t, target_files=3)
    dl.write_delta_log(
        spark.range(40, 60).selectExpr(
            "id % 5 AS grp", "id AS k", "CAST(9 AS BIGINT) AS v"
        ),
        t, mode="append",
    )
    dl.delta_optimize_incremental(spark, t, target_files=3)
    got = sorted(
        (r["grp"], r["k"], r["v"])
        for r in spark.read.format("tspdelta").load(t).collect()
    )
    want = sorted(
        (r["grp"], r["k"], r["v"])
        for r in dl.read_delta_log(spark, t).collect()
    )
    assert got == want and len(got) == 520


def test_stream_composes_with_stateful_aggregation(spark, tmp_path):
    """The DS stream is a real structured-streaming source: a
    groupBy aggregation over it maintains state across bounded
    microbatches (update mode), ending at the same totals as a batch
    aggregation over the table."""
    t = str(tmp_path / "t")
    for i in range(3):
        dl.write_delta_log(
            spark.range(20 * i, 20 * i + 20).selectExpr(
                "id AS k", "id % 4 AS g", "id * 2 AS v"
            ),
            t, mode="overwrite" if i == 0 else "append",
        )
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(t)
        .groupBy("g")
        .agg({"v": "sum", "k": "count"})
        .writeStream.outputMode("update")
        .format("memory").queryName("tspds_agg")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update mode emits per-batch rows; the LAST row per group is the
    # final state — compare against the batch truth
    import pandas as pd

    got = spark.sql("SELECT * FROM tspds_agg").toPandas()
    last = got.groupby("g").last()
    want = (
        dl.read_delta_log(spark, t)
        .groupBy("g").agg({"v": "sum", "k": "count"})
        .toPandas().set_index("g").sort_index()
    )
    assert last["sum(v)"].sort_index().tolist() == want[
        "sum(v)"
    ].tolist()
    assert last["count(k)"].sort_index().tolist() == want[
        "count(k)"
    ].tolist()


def test_stream_foreachbatch_merge_upsert(spark, tmp_path):
    """The lakehouse upsert pattern through the format API: a DS
    stream of change batches folded into a downstream native table
    with foreachBatch + delta_merge — final state equals the
    last-writer-wins truth, exactly once."""
    src = str(tmp_path / "src")
    # three commits updating overlapping keys: last write wins
    dl.write_delta_log(
        spark.range(10).selectExpr(
            "id AS k", "CAST(0 AS BIGINT) AS v"
        ),
        src, mode="overwrite",
    )
    dl.write_delta_log(
        spark.range(5, 15).selectExpr(
            "id AS k", "CAST(1 AS BIGINT) AS v"
        ),
        src, mode="append",
    )
    dl.write_delta_log(
        spark.range(12, 18).selectExpr(
            "id AS k", "CAST(2 AS BIGINT) AS v"
        ),
        src, mode="append",
    )
    dst = str(tmp_path / "dst")
    dl.write_delta_log(
        spark.createDataFrame([], "k long, v long"), dst,
        mode="overwrite",
    )

    def upsert(batch_df, batch_id):
        # bounded windows deliver one commit per microbatch, so each
        # key appears at most once per batch; merge key-wise
        dl.delta_merge(spark, dst, batch_df, key="k")

    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(src)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["k"]: r["v"]
        for r in dl.read_delta_log(spark, dst).collect()
    }
    want = {k: 0 for k in range(10)}
    want.update({k: 1 for k in range(5, 15)})
    want.update({k: 2 for k in range(12, 18)})
    assert got == want


def test_sink_carries_ict_on_enabled_tables(spark, tmp_path):
    """ADVICE r13 (medium): a table with
    delta.enableInCommitTimestamps=true must get an inCommitTimestamp
    on EVERY post-enablement commit — including the DS sink's, which
    used to pass meta=None and land bare commits, breaking the
    monotone chain and version_at_timestamp precedence."""
    import json as _json

    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(5).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_set_table_property(
        spark, t, "delta.enableInCommitTimestamps", "true"
    )
    v_en = dl.delta_snapshot(spark, t)[2]

    def _ict(v: int) -> int | None:
        p = os.path.join(t, "_delta_log", f"{v:020d}.json")
        for line in open(p).read().splitlines():
            d = _json.loads(line)
            if "commitInfo" in d:
                return d["commitInfo"].get("inCommitTimestamp")
        return None

    spark.range(100, 103).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    v1 = dl.delta_snapshot(spark, t)[2]
    assert v1 == v_en + 1
    assert _ict(v1) is not None  # the sink's commit carries ICT
    assert _ict(v1) > _ict(v_en)  # strictly monotone chain
    # a second DS append keeps the chain strictly increasing
    spark.range(200, 202).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    v2 = dl.delta_snapshot(spark, t)[2]
    assert _ict(v2) > _ict(v1)
    # version_at_timestamp resolves through the DS-written commits
    assert dl.version_at_timestamp(spark, t, _ict(v1)) == v1
    assert dl.version_at_timestamp(spark, t, _ict(v2)) == v2
    assert dl.read_delta_log(spark, t).count() == 10


def test_user_schema_does_not_bypass_protocol_gates(spark, tmp_path):
    """ADVICE r13 (low): .schema(...) skips DataSource.schema() — the
    one place the protocol gate ran. An unsupported-reader-feature
    table read with a user schema must still refuse; and a MAPPED
    table read with a user schema must still resolve physical names
    through the plan (not silent all-nulls)."""
    from tests.test_deltalog import _add, _commit, _meta, _write_parquet

    t = str(tmp_path / "t")
    os.makedirs(t)
    sch = "k long"
    _write_parquet(spark, os.path.join(t, "A.parquet"), [(1,)], sch)
    _commit(t, 0, [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["variantType"]}},
        _meta(spark.createDataFrame([], sch).schema.json()),
        _add("A.parquet"),
    ])
    with pytest.raises(Exception, match="variantType|reader"):
        spark.read.format("tspdelta").schema(
            "k long"
        ).load(t).collect()
    with pytest.raises(Exception, match="variantType|reader"):
        q = (
            spark.readStream.format("tspdelta")
            .schema("k long").load(t)
            .writeStream.format("noop").start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    # mapped table + user schema: the plan still resolves physical
    # names — values come back, never silent nulls
    t2 = str(tmp_path / "t2")
    dl.write_delta_log(
        spark.range(5).selectExpr("id AS k", "id * 2 AS v"), t2
    )
    dl.delta_enable_column_mapping(spark, t2)
    dl.delta_rename_column(spark, t2, "v", "val")
    got = sorted(
        map(tuple, spark.read.format("tspdelta").schema(
            "k long, val long"
        ).load(t2).collect())
    )
    assert got == [(i, i * 2) for i in range(5)]


def test_prune_option_skips_files(spark, tmp_path):
    """VERDICT r13 Next #1: load-time .option('prune', ...) prunes
    files at partitions() time from add.stats min/max and Hive
    partition values — the scan-reuse-proof alternative to the
    poisoned pushFilters path. Fewer files are OPENED (one task per
    file, so rdd partitions count them); combined with the matching
    .where() the rows are exactly right; stats-blind and
    type-mismatched clauses never skip a file."""
    t = str(tmp_path / "t")
    for i in range(4):  # 8 files: 4 commits x 2 partitions
        dl.write_delta_log(
            spark.range(100 * i, 100 * i + 100).selectExpr(
                "id AS k", "CAST(id % 2 AS LONG) AS grp", "id * 2 AS v"
            ).coalesce(1),
            t, mode="overwrite" if i == 0 else "append",
            partition_cols=["grp"],
        )
    unpruned = spark.read.format("tspdelta").load(t)
    assert unpruned.rdd.getNumPartitions() == 8

    # stats range: k >= 350 lives in the last commit only (2 files)
    pruned = (
        spark.read.format("tspdelta")
        .option("prune", "k >= 350").load(t)
    )
    assert pruned.rdd.getNumPartitions() == 2  # fewer files OPENED
    assert sorted(
        r["k"] for r in pruned.where("k >= 350").collect()
    ) == list(range(350, 400))

    # partition value + stats conjunction
    both = (
        spark.read.format("tspdelta")
        .option("prune", "grp = 1 AND k < 100").load(t)
    )
    assert both.rdd.getNumPartitions() == 1
    assert both.where("grp = 1 AND k < 100").count() == 50

    # prune is a scan hint, not a filter: surviving files' rows flow
    assert pruned.count() == 100  # the whole last commit

    # pruning EVERYTHING yields a clean empty relation, not a crash
    # (Spark hands the reader a None partition when partitions()
    # is empty)
    none_left = (
        spark.read.format("tspdelta")
        .option("prune", "k > 100000").load(t)
    )
    assert none_left.count() == 0
    assert none_left.columns == ["k", "grp", "v"]

    # unknown column / bad grammar refuse loudly
    with pytest.raises(Exception, match="not in the table schema"):
        spark.read.format("tspdelta").option(
            "prune", "nope > 1"
        ).load(t).collect()
    with pytest.raises(Exception, match="cannot parse"):
        spark.read.format("tspdelta").option(
            "prune", "k IN (1,2)"
        ).load(t).collect()


def test_prune_option_interleaved_relations_stay_correct(spark, tmp_path):
    """The guard that makes load-time pruning shippable where
    pushFilters was not: pruned and unpruned RELATIONS are distinct
    (distinct option sets), so interleaving plans across them can
    never reuse the wrong scan — the exact poisoning shape measured
    in r13 (count() after a pruned where() returning the pruned
    count)."""
    t = str(tmp_path / "t")
    for i in range(4):
        dl.write_delta_log(
            spark.range(100 * i, 100 * i + 100).selectExpr(
                "id AS k", "id * 2 AS v"
            ).coalesce(1),
            t, mode="overwrite" if i == 0 else "append",
        )
    unpruned = spark.read.format("tspdelta").load(t)
    pruned = (
        spark.read.format("tspdelta")
        .option("prune", "k >= 350").load(t)
    )
    assert pruned.where("k >= 350").count() == 50   # pruned plan built
    assert unpruned.count() == 400                  # NOT poisoned
    assert pruned.count() == 100                    # its own files
    assert unpruned.where("k >= 350").count() == 50
    assert unpruned.count() == 400                  # still not
    # same-relation interleave on the pruned side stays stable too
    # (its one surviving file spans k 300..399)
    assert pruned.where("k < 360").count() == 60
    assert pruned.count() == 100


def test_sink_partitioned_layout(spark, tmp_path):
    """r14: the DS sink writes Hive-partitioned layouts natively —
    .option('partitionBy', ...) creates a partitioned table, appends
    to an existing partitioned table follow its recorded layout, the
    files live under partition dirs WITHOUT the partition column's
    bytes (path + add.partitionValues carry it, delta-spark's shape),
    and both the JVM reader and the DS reader get typed partition
    columns back."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    spark.range(20).selectExpr(
        "id AS k", "CAST(id % 3 AS LONG) AS p", "id * 2 AS v"
    ).write.format("tspdelta").option("partitionBy", "p").mode(
        "append"
    ).save(t)
    files, meta, _v, _t, _p = dl.delta_snapshot(spark, t)
    assert meta["partitionColumns"] == ["p"]
    for rel, add in files.items():
        assert rel.startswith("p=")
        assert add["partitionValues"].keys() == {"p"}
        names = pq.ParquetFile(os.path.join(t, rel)).schema_arrow.names
        assert "p" not in names  # partition bytes live in the path
    got = dl.read_delta_log(spark, t)
    assert dict(got.dtypes)["p"] == "bigint"
    assert got.where("p = 1").count() == 7  # ids 1,4,7,10,13,16,19

    # append through the sink follows the recorded layout
    spark.sql(
        "SELECT CAST(100 AS LONG) k, CAST(1 AS LONG) p, "
        "CAST(0 AS LONG) v"
    ).write.format("tspdelta").mode("append").save(t)
    assert dl.read_delta_log(spark, t).where("p = 1").count() == 8
    # DS reader agrees with the JVM reader bit-for-bit
    a = sorted(map(tuple, dl.read_delta_log(spark, t).collect()))
    b = sorted(
        map(tuple, spark.read.format("tspdelta").load(t).collect())
    )
    assert a == b
    # pruning on the partition value opens only that dir's files
    pruned = (
        spark.read.format("tspdelta").option("prune", "p = 1").load(t)
    )
    assert pruned.count() == 8
    # missing partition column refuses loudly
    with pytest.raises(Exception, match="partition columns"):
        spark.range(2).selectExpr("id AS k", "id AS v").write.format(
            "tspdelta"
        ).mode("append").save(t)


def test_sink_partitioned_generated_column(spark, tmp_path):
    """The classic derive-the-partition use: a GENERATED partition
    column omitted by the batch is materialized executor-side, then
    routes the row into its partition dir."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(6).selectExpr(
            "id AS k", "id * 2 AS v", "id % 2 AS p"
        ),
        t, mode="overwrite", partition_cols=["p"],
    )
    dl.delta_set_generated_column(spark, t, "p", "k % 2")
    spark.range(100, 104).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    got = {
        r["k"]: r["p"]
        for r in dl.read_delta_log(spark, t).where("k >= 100").collect()
    }
    assert got == {k: k % 2 for k in range(100, 104)}
    files, *_ = dl.delta_snapshot(spark, t)
    assert all(rel.startswith("p=") for rel in files)


def test_stream_sink_partitioned(spark, tmp_path):
    """readStream → partitioned DS sink: partition dirs + exactly-once
    txn tokens compose."""
    src = str(tmp_path / "src")
    for i in range(2):
        dl.write_delta_log(
            spark.range(10 * i, 10 * i + 10).selectExpr(
                "id AS k", "CAST(id % 2 AS LONG) AS p"
            ),
            src, mode="overwrite" if i == 0 else "append",
        )
    dst = str(tmp_path / "dst")
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(src)
        .writeStream.format("tspdelta")
        .option("partitionBy", "p")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start(dst)
    )
    q.processAllAvailable()
    q.stop()
    got = dl.read_delta_log(spark, dst)
    assert got.count() == 20
    assert got.where("p = 1").count() == 10
    files, meta, *_ = dl.delta_snapshot(spark, dst)
    assert meta["partitionColumns"] == ["p"]
    assert all(rel.startswith("p=") for rel in files)


def test_stream_prune_option(spark, tmp_path):
    """The prune option on readStream: each microbatch's file set is
    stats/partition-pruned before becoming partitions — a keyed tail
    skips commits' files that provably exclude its range, and the
    delivered rows (post-where) match the unpruned stream's."""
    src = str(tmp_path / "src")
    for i in range(3):
        dl.write_delta_log(
            spark.range(100 * i, 100 * i + 100).selectExpr(
                "id AS k", "CAST(id % 2 AS LONG) AS grp"
            ).coalesce(1),
            src, mode="overwrite" if i == 0 else "append",
        )
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1")
        .option("prune", "k >= 200").load(src)
        .writeStream.format("memory").queryName("tspds_prune")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r["k"]
        for r in spark.sql(
            "SELECT * FROM tspds_prune WHERE k >= 200"
        ).collect()
    )
    assert got == list(range(200, 300))
    # the pruned stream skipped the first two commits' files entirely
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) == 1
    assert data_batches[0]["numInputRows"] == 100


def test_batch_read_column_mapped_name_mode(spark, tmp_path):
    """r14: column-mapped tables READ through the DS — 'name' mode
    with the full ALTER life (rename, drop, re-add under a fresh UUID
    physical name): the DS read matches the JVM-side native reader
    bit-for-bit, and prune clauses on LOGICAL names translate to the
    physical stats keys."""
    t = str(tmp_path / "t")
    for i in range(2):
        dl.write_delta_log(
            spark.range(50 * i, 50 * i + 50).selectExpr(
                "id AS k", "id * 2 AS v", "CAST(id AS STRING) AS s"
            ).coalesce(1),
            t, mode="overwrite" if i == 0 else "append",
        )
    dl.delta_enable_column_mapping(spark, t)
    dl.delta_rename_column(spark, t, "v", "val")  # metadata-only
    dl.delta_drop_column(spark, t, "s")
    dl.delta_add_column(spark, t, "s", "string")  # fresh physical
    want = dl.read_delta_log(spark, t)
    got = spark.read.format("tspdelta").load(t)
    # names+types match (nullability differs by design: the DS keeps
    # the schemaString's flags, the JVM parquet scan is all-nullable)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # the re-added column reads as nulls (old physical bytes cannot
    # resurrect), the renamed one carries its values
    assert got.where("s IS NOT NULL").count() == 0
    assert got.where("val = 98").count() == 1
    # prune on the LOGICAL renamed name hits the physical stats keys
    pruned = (
        spark.read.format("tspdelta")
        .option("prune", "k >= 50").load(t)
    )
    assert pruned.rdd.getNumPartitions() == 1  # one of two files
    assert pruned.where("k >= 50").count() == 50


def test_batch_read_column_mapped_id_mode(spark, tmp_path):
    """'id' mode: the file's internal names match NEITHER logical nor
    physical names — only parquet field-id resolution yields rows
    (name-based resolution would return nulls). Mirrors the JVM-side
    test_column_mapping_id_mode_reads through the DS."""
    import json as _json

    import pyarrow as pa

    from tests.test_deltalog import (
        _add,
        _commit,
        _meta,
        _write_parquet_field_ids,
    )

    t = str(tmp_path / "t")
    os.makedirs(t)
    _write_parquet_field_ids(
        os.path.join(t, "A.parquet"),
        [
            ("junk_1", 1, pa.int64(), [1, 2, 3]),
            ("junk_2", 2, pa.string(), ["a", "b", "c"]),
        ],
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aaa"}},
            {"name": "v", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bbb"}},
        ],
    }
    meta = _meta(_json.dumps(schema))
    meta["metaData"]["configuration"] = {
        "delta.columnMapping.mode": "id"
    }
    _commit(t, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        meta,
        _add("A.parquet"),
    ])
    got = spark.read.format("tspdelta").load(t)
    assert got.columns == ["k", "v"]
    assert sorted(map(tuple, got.collect())) == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_stream_read_column_mapped(spark, tmp_path):
    """readStream over a mapped table: microbatches come back under
    LOGICAL names with physical-name resolution per file."""
    src = str(tmp_path / "src")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), src
    )
    dl.delta_enable_column_mapping(spark, src)
    dl.delta_rename_column(spark, src, "v", "val")
    dl.write_delta_log(  # post-rename append (UUID-free: same phys)
        spark.createDataFrame([(100, 7)], "k long, val long"),
        src, mode="append",
    )
    q = (
        spark.readStream.format("tspdelta")
        .option("maxVersionsPerBatch", "1").load(src)
        .writeStream.format("memory").queryName("tspds_mapped")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        map(tuple, spark.sql("SELECT k, val FROM tspds_mapped").collect())
    )
    assert got == [(i, i * 2) for i in range(10)] + [(100, 7)]


def test_sink_row_tracked_append(spark, tmp_path):
    """r14: the DS sink appends to ROW-TRACKED tables — fresh rows
    get fresh baseRowIds allocated from the delta.rowTracking
    high-water-mark domain (SparkSession-free, counts from the adds'
    stats), the advanced HWM lands atomically with the adds, existing
    rows keep their ids exactly, and all ids stay unique. A replayed
    streaming batch never double-allocates."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_enable_row_tracking(spark, t)
    before = {
        r["k"]: r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, t).collect()
    }
    spark.range(100, 105).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    rows = dl.read_delta_with_row_ids(spark, t).collect()
    after = {r["k"]: r["_row_id"] for r in rows}
    for k, rid in before.items():
        assert after[k] == rid  # preservation: untouched rows keep ids
    ids = [r["_row_id"] for r in rows]
    assert len(ids) == len(set(ids)) == 15  # fresh, unique
    # the new adds carry baseRowId + defaultRowCommitVersion and the
    # HWM domain advanced
    files, _m, v, _t, _p, domains = dl.delta_snapshot_ex(spark, t)
    assert all(
        a.get("baseRowId") is not None for a in files.values()
    )
    import json as _json

    hwm = _json.loads(domains["delta.rowTracking"])[
        "rowIdHighWaterMark"
    ]
    assert hwm == max(ids)
    # a second sink append keeps allocating past the new HWM
    spark.range(200, 203).selectExpr(
        "id AS k", "id * 2 AS v"
    ).write.format("tspdelta").mode("append").save(t)
    ids2 = [
        r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, t).collect()
    ]
    assert len(ids2) == len(set(ids2)) == 18

    # streaming sink: exactly-once replay never double-allocates
    src_t = str(tmp_path / "src")
    dl.write_delta_log(
        spark.range(20).selectExpr("id AS k", "id * 2 AS v"), src_t
    )
    dst = str(tmp_path / "dst")
    dl.write_delta_log(
        spark.range(0).selectExpr("id AS k", "id * 2 AS v"), dst
    )
    dl.delta_enable_row_tracking(spark, dst)
    q = (
        spark.readStream.format("tspdelta").load(src_t)
        .writeStream.format("tspdelta")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start(dst)
    )
    q.processAllAvailable()
    q.stop()
    sids = [
        r["_row_id"]
        for r in dl.read_delta_with_row_ids(spark, dst).collect()
    ]
    assert len(sids) == len(set(sids)) == 20


def test_batch_read_change_feed(spark, tmp_path):
    """r14 CDF through the DS: .option('readChangeFeed','true') +
    startingVersion returns typed rows from pure snapshot algebra —
    DV growth emits exactly the newly-dead positions as 'delete',
    appends as 'insert', and folding the feed reproduces the snapshot
    diff (the deltalog.delta_changes_feed contract, multiset
    semantics)."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_delete(spark, t, "k IN (2, 3)")       # v1: DV delete
    dl.write_delta_log(
        spark.range(100, 103).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",                           # v2
    )
    feed = (
        spark.read.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0").load(t)
    )
    assert feed.columns == ["k", "v", "_change_type"]
    got = sorted(
        (r["_change_type"], r["k"]) for r in feed.collect()
    )
    assert got == [
        ("delete", 2), ("delete", 3),
        ("insert", 100), ("insert", 101), ("insert", 102),
    ]
    # from -1: the whole current state arrives as inserts (live rows
    # only — the DV'd positions never appear)
    all_feed = (
        spark.read.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "-1").load(t)
    )
    ks = sorted(r["k"] for r in all_feed.collect())
    assert ks == [k for k in range(10) if k not in (2, 3)] + [100, 101, 102]
    assert all(
        r["_change_type"] == "insert" for r in all_feed.collect()
    )
    # a rewrite-shaped delete folds to the exact snapshot diff even
    # though the compaction re-emits balanced pairs
    v_pre = dl.delta_snapshot(spark, t)[2]
    dl.delta_delete(spark, t, "k = 5", max_dv_rows=0)  # rewrite
    feed2 = (
        spark.read.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", str(v_pre)).load(t)
    )
    from collections import Counter

    net = Counter()
    for r in feed2.collect():
        net[(r["k"], r["v"])] += 1 if r["_change_type"] == "insert" else -1
    assert {k: n for k, n in net.items() if n} == {(5, 10): -1}
    # option hygiene: no startingVersion / prune combination refuse
    with pytest.raises(Exception, match="startingVersion"):
        spark.read.format("tspdelta").option(
            "readChangeFeed", "true"
        ).load(t).collect()
    with pytest.raises(Exception, match="prune does not compose"):
        spark.read.format("tspdelta").option(
            "readChangeFeed", "true"
        ).option("startingVersion", "0").option(
            "prune", "k > 1"
        ).load(t).collect()


def test_stream_read_change_feed(spark, tmp_path):
    """readStream with readChangeFeed: a DV-delete commit streams as
    typed 'delete' rows instead of refusing, bounded windows intact."""
    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), t
    )
    dl.delta_delete(spark, t, "k IN (1, 4)")
    dl.write_delta_log(
        spark.range(50, 53).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",
    )
    q = (
        spark.readStream.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("maxVersionsPerBatch", "1").load(t)
        .writeStream.format("memory").queryName("tspds_cdf")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM tspds_cdf").collect()
    net = {}
    for r in rows:
        net[r["k"]] = net.get(r["k"], 0) + (
            1 if r["_change_type"] == "insert" else -1
        )
    live = {k: n for k, n in net.items() if n}
    assert live == {
        **{k: 1 for k in range(10) if k not in (1, 4)},
        **{k: 1 for k in (50, 51, 52)},
    }
    # the delete batch delivered typed rows (no refusal)
    assert any(r["_change_type"] == "delete" for r in rows)


def test_change_feed_named_starting_versions(spark, tmp_path):
    """startingVersion 'earliest' / 'latest' resolve in schema inference
    the way the stream reader resolves them: 'earliest' is the whole
    history (the same feed as -1), 'latest' an empty window that a
    stream then tails."""
    t = str(tmp_path / "t")
    dl.write_delta_log(spark.range(5).selectExpr("id AS k"), t)
    dl.write_delta_log(
        spark.range(5, 8).selectExpr("id AS k"), t, mode="append"
    )

    def batch(sv):
        return sorted(
            (r["k"], r["_change_type"])
            for r in spark.read.format("tspdelta")
            .option("readChangeFeed", "true")
            .option("startingVersion", sv).load(t).collect()
        )

    assert batch("earliest") == batch("-1")
    assert batch("earliest") == [(k, "insert") for k in range(8)]
    assert batch("latest") == []

    queries = {
        sv: spark.readStream.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", sv).load(t)
        .writeStream.format("memory").queryName(f"tspds_cdf_{sv}")
        .option("checkpointLocation", str(tmp_path / f"ck_{sv}"))
        .start()
        for sv in ("earliest", "latest")
    }
    try:
        for q in queries.values():
            q.processAllAvailable()
        dl.write_delta_log(
            spark.range(8, 10).selectExpr("id AS k"), t, mode="append"
        )
        for q in queries.values():
            q.processAllAvailable()
    finally:
        for q in queries.values():
            q.stop()

    def streamed(sv):
        return sorted(
            (r["k"], r["_change_type"])
            for r in spark.sql(f"SELECT * FROM tspds_cdf_{sv}").collect()
        )

    assert streamed("earliest") == [(k, "insert") for k in range(10)]
    assert streamed("latest") == [(8, "insert"), (9, "insert")]


def test_batch_time_travel_options(spark, tmp_path):
    """r14: VERSION AS OF / TIMESTAMP AS OF through the DS —
    .option('versionAsOf', N) pins the snapshot replay;
    .option('timestampAsOf', ...) resolves by the protocol precedence
    (inCommitTimestamp, else commitInfo.timestamp, else mtime) to the
    newest commit at-or-before; a pre-history timestamp refuses."""
    import json as _json

    t = str(tmp_path / "t")
    for i in range(3):  # v0..v2
        dl.write_delta_log(
            spark.range(10 * i, 10 * i + 10).selectExpr(
                "id AS k", "id * 2 AS v"
            ),
            t, mode="overwrite" if i == 0 else "append",
        )
    for ver in range(3):
        got = sorted(
            r["k"]
            for r in spark.read.format("tspdelta")
            .option("versionAsOf", str(ver)).load(t).collect()
        )
        want = sorted(
            r["k"]
            for r in dl.read_delta_log(spark, t, version=ver).collect()
        )
        assert got == want == list(range(10 * (ver + 1)))

    # timestampAsOf: pin commit timestamps, then resolve between them
    log = os.path.join(t, "_delta_log")

    def _set_ts(v, ts):
        p = os.path.join(log, f"{v:020d}.json")
        out = []
        for line in open(p).read().splitlines():
            d = _json.loads(line)
            if "commitInfo" in d:
                d["commitInfo"]["timestamp"] = ts
                d["commitInfo"].pop("inCommitTimestamp", None)
            out.append(_json.dumps(d))
        open(p, "w").write("\n".join(out) + "\n")
        side = os.path.join(log, f".{v:020d}.json.crc")
        if os.path.exists(side):
            os.unlink(side)

    _set_ts(0, 1000)
    _set_ts(1, 2000)
    _set_ts(2, 3000)
    got = spark.read.format("tspdelta").option(
        "timestampAsOf", "2500"
    ).load(t)
    assert got.count() == 20  # v1 is the newest at-or-before 2500
    with pytest.raises(Exception, match="predates"):
        spark.read.format("tspdelta").option(
            "timestampAsOf", "500"
        ).load(t).collect()
    with pytest.raises(Exception, match="exclusive"):
        spark.read.format("tspdelta").option(
            "timestampAsOf", "2500"
        ).option("versionAsOf", "1").load(t).collect()
    # version pin + schema at that version compose with collect()
    v0 = spark.read.format("tspdelta").option(
        "versionAsOf", "0"
    ).load(t)
    assert sorted(r["k"] for r in v0.collect()) == list(range(10))


def test_snapshot_capture_equals_pinned_replay(spark, tmp_path):
    """r15 (VERDICT Next #3): the single-replay CDF window — state
    captured at ``capture_at`` during one log pass must equal the
    separate pinned replay at every version, and a checkpoint ABOVE
    the capture point must return None (the caller's fallback to the
    pinned replay, which this also pins as result-identical)."""
    from time_series_prediction_spark.sources.delta_datasource import (
        _local_snapshot_ex,
    )

    t = str(tmp_path / "t")
    dl.write_delta_log(
        spark.range(10).selectExpr("id AS k", "id * 2 AS v"), t
    )                                                  # v0
    dl.delta_delete(spark, t, "k IN (2, 3)")           # v1: DV delete
    dl.write_delta_log(
        spark.range(100, 103).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",                              # v2
    )
    for cap in (0, 1, 2):
        got = _local_snapshot_ex(t, None, capture_at=cap)[6]
        want = _local_snapshot_ex(t, cap)[0]
        assert got == want, cap
    # checkpoint at v2 wipes commits 0..2: capture below it is
    # impossible in one pass -> None (fallback path), while capture AT
    # the checkpoint version still works
    dl.write_checkpoint(spark, t, clean_old_commits=True)
    dl.write_delta_log(
        spark.range(200, 202).selectExpr("id AS k", "id * 2 AS v"),
        t, mode="append",                              # v3
    )
    assert _local_snapshot_ex(t, None, capture_at=1)[6] is None
    got2 = _local_snapshot_ex(t, None, capture_at=2)[6]
    want2 = _local_snapshot_ex(t, 2)[0]
    assert got2 == want2
    # and the CDF read over the checkpointed window still answers
    feed = (
        spark.read.format("tspdelta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").load(t)
    )
    got3 = sorted((r["_change_type"], r["k"]) for r in feed.collect())
    assert got3 == [("insert", 200), ("insert", 201)]
