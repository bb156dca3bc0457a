"""Structured Streaming tests: drive the real incremental engine with
the fixture parquet as a file source and compare against batch truth."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from time_series_prediction_spark.streaming.events import run_to_parquet_sink


def _events_stream(spark, sf_dir):
    """File-source stream over the events fixture with ``ts`` as a UTC
    timestamp. File streams need a directory and an explicit schema:
    stream the fixture dir filtered to the events file, with the
    schema its footer declares."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _read_layout(spark, data_path):
    """Every parquet file under a streamed layout, committed or not:
    per-batch subdirectories are plain nested dirs, not partitions."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(data_path)
    )


def test_foreach_batch_parquet_sink(spark, sf_dir):
    """Every streamed row lands in the parquet target exactly once."""
    from time_series_prediction_spark.sources.io import read_table

    cols = ["event_id", "event_type", "value"]
    with tempfile.TemporaryDirectory() as tmp:
        stream = _events_stream(spark, sf_dir).select(*cols)
        q = run_to_parquet_sink(
            stream, f"{tmp}/out", checkpoint=f"{tmp}/ckpt"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.parquet(f"{tmp}/out")
        assert back.columns == cols
        want = read_table(spark, sf_dir, "events").select(*cols)
        assert back.count() == want.count() > 0
        assert back.exceptAll(want).count() == 0


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream attribution join == the same time-bounded join as
    batch (subset: append emission withholds rows still inside the
    final watermark; require >=90% coverage and no phantom pairs)."""
    from time_series_prediction_spark.sources.io import read_table
    from time_series_prediction_spark.streaming.events import (
        click_purchase_join_stream,
    )

    clicks = _events_stream(spark, sf_dir).where(
        F.col("event_type") == "click"
    )
    purchases = _events_stream(spark, sf_dir).where(
        F.col("event_type") == "purchase"
    )
    q = (
        click_purchase_join_stream(clicks, purchases)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("attrib_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ev = read_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("interval 1 hour")
            ),
        ).collect()
    }
    got_pairs = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql(
            "SELECT click_id, purchase_id FROM attrib_out"
        ).collect()
    }
    assert got_pairs <= batch_pairs, "stream emitted a pair batch does not have"
    assert len(batch_pairs) == 0 or len(got_pairs) >= int(
        len(batch_pairs) * 0.9
    ), f"stream={len(got_pairs)} batch={len(batch_pairs)}"


def test_streaming_zorder_ingest_builds_pruned_layout(spark, tmp_path):
    """The continuous lakehouse ingestion loop: a file stream lands
    micro-batch by micro-batch as z-ordered batch dirs with an
    incrementally maintained, atomically versioned stats manifest.
    After the stream drains: the committed manifest equals a full
    rebuild, range queries through it prune files yet match the full
    scan, every source row landed exactly once, and replaying a batch
    (same batch_id) changes nothing."""
    from time_series_prediction_spark.operators.manifest import (
        build_stats_manifest,
        list_parquet_files,
        prune_files,
        pruned_scan,
    )
    from time_series_prediction_spark.streaming.layout import (
        current_manifest,
        manifest_root,
        zorder_ingest_sink,
    )

    src = str(tmp_path / "src")
    grid = spark.range(30_000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 300).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    grid.repartition(3).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema("x long, y long, payload long")
        .option("maxFilesPerTrigger", "1")  # force multiple batches
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(zorder_ingest_sink(out, ["x", "y"]))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch-")]
    assert len(batch_dirs) >= 2, "expected multiple micro-batches"
    man = current_manifest(spark, manifest_root(out))
    assert man is not None
    rebuilt = build_stats_manifest(spark, out, ["x", "y"])
    assert sorted(map(tuple, man.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    # stats pruning engages and the pruned result matches the full scan
    preds = {"x": (10.0, 25.0)}
    kept = prune_files(man, preds)
    files = list_parquet_files(out, spark)
    assert 0 < len(kept) < len(files), (len(kept), len(files))
    got = (
        pruned_scan(spark, man, preds)
        .agg(F.count(F.lit(1)), F.sum("payload"))
        .first()
    )
    want = (
        _read_layout(spark, out)
        .where(F.col("x").between(10, 25))
        .agg(F.count(F.lit(1)), F.sum("payload"))
        .first()
    )
    assert tuple(got) == tuple(want) and got[0] > 0
    # exactly-once landing across the whole stream
    assert _read_layout(spark, out).count() == 30_000

    # replay: re-running a batch with the same batch_id overwrites its
    # own directory and republishes a consistent manifest — no dupes
    sink = zorder_ingest_sink(out, ["x", "y"])
    extra = grid.where(F.col("payload") < 1_000)
    sink(extra, 999)
    assert _read_layout(spark, out).count() == 31_000
    sink(extra, 999)  # replay
    assert _read_layout(spark, out).count() == 31_000
    man2 = current_manifest(spark, manifest_root(out))
    rebuilt2 = build_stats_manifest(spark, out, ["x", "y"])
    assert sorted(map(tuple, man2.collect())) == sorted(
        map(tuple, rebuilt2.collect())
    )


def test_streaming_layout_compact_vacuum_cycle(spark, tmp_path):
    """The full lakehouse maintenance cycle on a streamed layout:
    OPTIMIZE rewrites the accumulated per-batch generations into one
    z-ordered generation behind an atomic manifest flip (content
    identical, pruning intact), VACUUM reclaims superseded dirs after
    the retention window, and ingestion continues cleanly on the
    compacted table."""
    from time_series_prediction_spark.operators.manifest import (
        list_parquet_files,
        prune_files,
    )
    from time_series_prediction_spark.streaming.layout import (
        compact_layout,
        current_manifest,
        manifest_root,
        read_committed,
        vacuum_layout,
        zorder_ingest_sink,
    )

    out = str(tmp_path / "tbl")
    grid = spark.range(24_000).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 300).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    sink = zorder_ingest_sink(out, ["x", "y"], n_files=3)
    for i in range(4):  # four small generations, as a stream would land
        sink(grid.where(F.col("payload") % 4 == i), i)
    before = sorted(
        map(tuple, read_committed(spark, out).collect())
    )
    assert len(before) == 24_000

    # keep_versions=1: retire the pre-compaction versions so their
    # batch generations lose their last manifest reference (vacuum
    # protects files referenced by ANY retained version)
    cdir = compact_layout(spark, out, ["x", "y"], n_files=4,
                          keep_versions=1)
    assert cdir is not None and os.path.isdir(cdir)
    # content is unchanged, committed reads now hit ONLY the new gen
    after = sorted(map(tuple, read_committed(spark, out).collect()))
    assert after == before
    man = current_manifest(spark, manifest_root(out))
    committed_files = set(prune_files(man, {}))
    assert committed_files == set(list_parquet_files(cdir, spark))
    # raw recursive scan would double-count until vacuum
    assert _read_layout(spark, out).count() == 48_000
    # stats pruning works on the compacted generation
    kept = prune_files(man, {"x": (10.0, 25.0)})
    assert 0 < len(kept) < len(committed_files)

    # vacuum: grace keeps everything, then zero-grace reclaims
    assert vacuum_layout(spark, out) == []
    removed = vacuum_layout(spark, out, grace_s=0.0)
    assert len(removed) == 4 and all("batch-" in d for d in removed)
    assert _read_layout(spark, out).count() == 24_000
    assert sorted(
        map(tuple, read_committed(spark, out).collect())
    ) == before

    # ingestion continues on the compacted table
    extra = grid.where(F.col("payload") < 500).withColumn(
        "payload", F.col("payload") + 1_000_000
    )
    sink(extra, 50)
    assert read_committed(spark, out).count() == 24_500


def test_zorder_sink_replay_with_unnormalized_path(spark, tmp_path):
    """Replay idempotence must survive an UNNORMALIZED data_path
    (here a ``/./`` segment — same physical dirs for the OS, but
    Hadoop's Path normalizes it away, so the manifest's resolved
    ``file`` values never textually start with the caller's string):
    the sink's drop-this-batch filter must normalize before the
    prefix match, or the overwritten batch's stale rows (pointing at
    vanished files) survive every replay."""
    from time_series_prediction_spark.operators.manifest import (
        build_stats_manifest,
    )
    from time_series_prediction_spark.streaming.layout import (
        current_manifest,
        manifest_root,
        zorder_ingest_sink,
    )

    grid = spark.range(2_000).select(
        (F.col("id") % 40).alias("x"),
        (F.col("id") / 50).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    out = str(tmp_path) + "/./tbl_dot"
    sink = zorder_ingest_sink(out, ["x", "y"])
    sink(grid, 0)
    sink(grid, 1)
    sink(grid, 1)  # replay of batch 1 under the unnormalized path
    man = current_manifest(spark, manifest_root(out))
    rebuilt = build_stats_manifest(spark, out, ["x", "y"])
    assert sorted(map(tuple, man.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    assert _read_layout(spark, out).count() == 4_000


def test_layout_commit_protocol_over_file_uri(spark, sf_dir, tmp_path):
    """Round-7 FS port: the versioned-manifest commit protocol must
    work when every path is a ``file:`` URI routed through the Hadoop
    FileSystem API (the HDFS-portability contract) — publish, pointer
    flip, version pruning, committed read."""
    from time_series_prediction_spark.sources.io import read_table
    from time_series_prediction_spark.streaming.layout import (
        current_manifest,
        manifest_root,
        publish_manifest,
        read_committed,
        zorder_ingest_sink,
    )

    out = "file:" + str(tmp_path / "t")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).limit(200)
    sink = zorder_ingest_sink(out, ["user_id", "value"], n_files=2)
    sink(ev.where("event_id % 2 = 0"), 0)
    sink(ev.where("event_id % 2 = 1"), 1)
    root = manifest_root(out)
    man = current_manifest(spark, root)
    assert man is not None
    committed = read_committed(spark, out)
    assert committed.count() == ev.count()
    # a replayed batch must not duplicate rows in the committed view
    sink(ev.where("event_id % 2 = 1"), 1)
    assert read_committed(spark, out).count() == ev.count()
    # explicit publish + pointer flip over the file: URI
    v = publish_manifest(current_manifest(spark, root), root, 99)
    assert v.startswith("file:")
    assert current_manifest(spark, root) is not None


def test_fsops_publish_dir_race_semantics(spark, tmp_path):
    """publish_dir: first publisher wins; the loser's rename must NOT
    nest its build inside the winner's published dir (the Hadoop
    move-into-existing-dir trap)."""
    from time_series_prediction_spark.sources.fsops import fs_for

    fs = fs_for(spark, str(tmp_path))
    a = str(tmp_path / "x.build-1")
    b = str(tmp_path / "x.build-2")
    dst = str(tmp_path / "x")
    for d in (a, b):
        fs.mkdirs(d)
        fs.write_text(os.path.join(d, "_SUCCESS"), "")
    assert fs.publish_dir(a, dst) is True
    assert fs.publish_dir(b, dst) is False
    # winner's content intact, no nested stray, loser still discardable
    assert fs.exists(os.path.join(dst, "_SUCCESS"))
    assert fs.list_names(dst) == ["_SUCCESS"]
    fs.delete(b)
    assert not fs.exists(b)
