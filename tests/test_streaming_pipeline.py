"""Composed ingestion sink: validate → WAP → z-append in one body.

The round-7 unification (brief #5): one poisoned batch must lose only
its bad ROWS, a batch violating a batch-level invariant must be
wholly rejected with artifacts, clean batches must be audited +
published + z-appended, and the committed pruned scan must equal the
raw truth of everything that landed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.quality_checks import (
    in_range,
    not_null,
)
from time_series_prediction_spark.sources.io import read_table
from time_series_prediction_spark.streaming.layout import (
    manifest_root,
    read_committed,
)
from time_series_prediction_spark.streaming.pipeline import (
    _link_dir,
    lakehouse_ingest_sink,
)


def _read_parquet_tree(spark, path):
    """Every parquet file under ``path``: the sink keys its quarantine
    and report artifacts by nested ``batch-{id}`` dirs."""
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(path)
    )


def _commit_links(silver):
    """The medallion sink's recorded cross-table commits, by batch."""
    d = _link_dir(silver)
    links = []
    for name in os.listdir(d):
        if name.startswith("batch-") and name.endswith(".json"):
            with open(os.path.join(d, name)) as f:
                links.append(json.load(f))
    return sorted(links, key=lambda r: r["batch_id"])


@pytest.fixture()
def events_batches(spark, sf_dir):
    ev = (
        read_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .where("event_id < 600")
    )
    return [
        ev.where("event_id % 3 = 0"),
        ev.where("event_id % 3 = 1"),
        ev.where("event_id % 3 = 2"),
    ]


def _sink_for(out, **kw):
    defaults = dict(
        row_checks=[not_null("value"), in_range("value", lo=0.0)],
        zcols=["user_id", "value"],
        unique_cols=["event_id"],
        n_files=2,
    )
    defaults.update(kw)
    return lakehouse_ingest_sink(out, **defaults)


def test_composed_sink_end_to_end(spark, events_batches, tmp_path):
    """Clean batch published; poisoned batch loses only its bad rows;
    duplicate-key batch wholly rejected; committed scan == truth."""
    out = str(tmp_path / "t")
    sink = _sink_for(out)
    b0, b1, b2 = events_batches

    # batch 0: clean
    sink(b0, 0)
    # batch 1: poison some rows (negative value fails in_range)
    poisoned = b1.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, -F.col("value")).otherwise(
            F.col("value")
        ),
    )
    sink(poisoned, 1)
    # batch 2: duplicate a key -> batch-level uniqueness violation
    dup = b2.unionAll(b2.limit(5))
    sink(dup, 2)

    committed = read_committed(spark, out)
    truth_rows = b0.count() + poisoned.where("value >= 0").count()
    assert committed.count() == truth_rows

    # quarantined rows carry their failure reasons
    q = _read_parquet_tree(spark, out + "_quarantine")
    assert q.count() == poisoned.where("value < 0").count()
    assert all(
        "value_in_range" in r._failed_checks for r in q.collect()
    )

    # the duplicate-key batch left rejection artifacts, not data
    rej = sorted(n for n in os.listdir(out) if n.startswith("_rejected-"))
    assert rej == ["_rejected-batch-2"]
    report = spark.read.parquet(
        os.path.join(out, "_rejected-batch-2", "_audit_report")
    ).collect()
    assert any(r.check_name == "event_id_unique" and r.n_violations > 0 for r in report)

    # per-batch reports recorded each verdict
    reports = {r.batch_id: r for r in _read_parquet_tree(spark, out + "_report").collect()}
    assert reports[0].verdict == "published"
    assert reports[1].verdict == "published"
    assert reports[1].n_quarantined == q.count()
    assert reports[2].verdict == "rejected"

    # committed content equals the raw truth, value for value
    got = sorted(
        map(tuple, committed.select("event_id", "user_id", "value").collect())
    )
    want = sorted(
        map(
            tuple,
            b0.unionAll(poisoned.where("value >= 0"))
            .select("event_id", "user_id", "value")
            .collect(),
        )
    )
    assert got == want


def test_composed_sink_replay_idempotent(spark, events_batches, tmp_path):
    out = str(tmp_path / "t")
    sink = _sink_for(out)
    b0, b1, _ = events_batches
    sink(b0, 0)
    sink(b1, 1)
    n = read_committed(spark, out).count()
    sink(b1, 1)  # re-delivery of the same micro-batch
    assert read_committed(spark, out).count() == n


def test_composed_sink_prunes_committed_scan(spark, events_batches, tmp_path):
    """The z-append + manifest path must actually skip files on a
    selective predicate (the reason the commit step exists)."""
    from time_series_prediction_spark.operators.manifest import pruned_scan
    from time_series_prediction_spark.streaming.layout import (
        current_manifest,
    )

    out = str(tmp_path / "t")
    sink = _sink_for(out)
    for i, b in enumerate(events_batches):
        sink(b, i)
    man = current_manifest(spark, manifest_root(out))
    assert man is not None
    pred = {"user_id": (1.0, 3.0)}
    pruned = pruned_scan(spark, man, pred)
    full = read_committed(spark, out).where("user_id BETWEEN 1 AND 3")
    assert sorted(map(tuple, pruned.where("user_id BETWEEN 1 AND 3").collect())) == sorted(
        map(tuple, full.collect())
    )
    # fewer files actually read than the table holds
    n_all = len(man.collect())
    n_pruned = len(set(r.file for r in man.collect() if True)) and len(
        __import__(
            "time_series_prediction_spark.operators.manifest",
            fromlist=["prune_files"],
        ).prune_files(man, pred)
    )
    assert n_pruned < n_all


def test_medallion_bronze_keeps_raw_silver_dedups(spark, sf_dir):
    """Bronze holds EVERY arriving row exactly-once (injected
    duplicates included); silver holds the quality-gated distinct
    keys; the silver table accreted one committed version per
    non-empty batch (bootstrap + merges)."""
    import os

    from time_series_prediction_spark.operators.cow import list_versions
    from time_series_prediction_spark.plans.ingest_queries import (
        events_medallion_landing,
    )
    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
    )
    from time_series_prediction_spark.sources.io import read_table
    from time_series_prediction_spark.streaming.layout import (
        manifest_root,
        read_committed,
    )

    path = events_medallion_landing(spark, sf_dir)
    ev = read_table(spark, sf_dir, "events")
    n_raw = ev.count()
    n_dups = ev.where("event_id % 37 = 0").count()
    bronze = read_delta_log(spark, os.path.join(path, "bronze"))
    assert bronze.count() == n_raw + n_dups
    silver = read_committed(spark, os.path.join(path, "silver"))
    want = ev.where("value >= 0.5").count()
    assert silver.count() == want
    assert silver.select("event_id").distinct().count() == want
    versions = list_versions(
        spark, manifest_root(os.path.join(path, "silver"))
    )
    assert len(versions) >= 2  # bootstrap + at least one merge


def test_medallion_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Stop-and-restart: a second streaming query on the SAME
    checkpoint picks up only the files the first never processed —
    bronze holds every row exactly-once across both runs, silver
    converges to the distinct quality-gated keys."""
    import os

    from pyspark.sql import functions as F

    from time_series_prediction_spark.sources.deltalog import (
        read_delta_log,
    )
    from time_series_prediction_spark.streaming.layout import (
        read_committed,
    )
    from time_series_prediction_spark.streaming.pipeline import (
        medallion_sink,
    )

    inbox = str(tmp_path / "inbox")
    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    ck = str(tmp_path / "ck")

    def batch(lo, hi, tag):
        df = spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            (F.col("id") % 7).alias("user_id"),
            F.lit("view").alias("event_type"),
            (F.col("id") % 3).cast("double").alias("value"),
            (F.col("id") * 10).alias("cents"),
        )
        df.coalesce(1).write.mode("append").parquet(inbox)

    def run_once():
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string,"
            " value double, cents long"
        ).option("maxFilesPerTrigger", "1").parquet(inbox)
        q = stream.writeStream.foreachBatch(
            medallion_sink(
                bronze, silver, app_id="resume-test",
                key="event_id", quality_pred="value >= 1.0",
                keep_versions=20,
            )
        ).option("checkpointLocation", ck).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    batch(0, 50, "a")
    batch(50, 100, "b")
    run_once()
    n_bronze_1 = read_delta_log(spark, bronze).count()
    assert n_bronze_1 == 100
    batch(100, 150, "c")
    run_once()  # RESTART on the same checkpoint
    got = read_delta_log(spark, bronze)
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150
    sv = read_committed(spark, silver)
    # value >= 1.0 keeps ids with id % 3 in {1, 2}: 100 of 150
    assert sv.count() == 100
    assert sv.select("event_id").distinct().count() == 100


def test_medallion_conflicting_duplicates_raise(spark, tmp_path):
    """Without a seq_col, key-duplicate rows with DIFFERING payloads
    have no deterministic winner — the sink must raise, not pick one
    arbitrarily (an arbitrary pick could differ when the batch
    replays after a crash, breaking silver state idempotence).
    Exact-copy duplicates still collapse fine."""
    import pytest as _pytest

    from time_series_prediction_spark.streaming.pipeline import (
        medallion_sink,
    )

    sink = medallion_sink(
        str(tmp_path / "bronze"), str(tmp_path / "silver"),
        app_id="conflict-test", key="k", quality_pred="v >= 0",
    )
    # exact copies: fine
    ok = spark.createDataFrame([(1, 10), (1, 10), (2, 20)], "k long, v long")
    sink(ok, 0)
    # differing payloads under one key: refused
    bad = spark.createDataFrame([(3, 30), (3, 31)], "k long, v long")
    with _pytest.raises(ValueError, match="DIFFERING payloads"):
        sink(bad, 1)


def test_medallion_seq_col_picks_last_writer(spark, tmp_path):
    """With a seq_col the greatest sequence wins deterministically —
    the same pick on a post-crash replay of the identical batch."""
    from time_series_prediction_spark.sources.fsops import fs_for
    from time_series_prediction_spark.streaming.layout import (
        manifest_root,
        read_committed,
    )
    from time_series_prediction_spark.streaming.pipeline import (
        medallion_sink,
    )

    silver = str(tmp_path / "silver")
    sink = medallion_sink(
        str(tmp_path / "bronze"), silver,
        app_id="seq-test", key="k", quality_pred="v >= 0",
        seq_col="seq",
    )
    batch = spark.createDataFrame(
        [(1, 10, 100), (1, 11, 101), (2, 20, 50)],
        "k long, v long, seq long",
    )
    sink(batch, 0)
    sink(batch, 0)  # replay: same winner, state unchanged
    got = {
        r["k"]: r["v"]
        for r in read_committed(
            spark, silver, root=manifest_root(silver)
        ).collect()
    }
    assert got == {1: 11, 2: 20}
    assert fs_for is not None


def test_medallion_kill_between_commits_resumes_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the bronze Delta commit but BEFORE the silver CoW
    merge: the replay must fold the batch into silver exactly once
    (bronze's txn token skips the re-append), record the cross-table
    commit link, and a further replay with the link present must not
    burn a manifest version on either table."""
    from time_series_prediction_spark.operators.cow import list_versions
    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
        read_delta_log,
    )
    from time_series_prediction_spark.streaming import upsert as ups_mod
    from time_series_prediction_spark.streaming.layout import (
        manifest_root,
        read_committed,
    )
    from time_series_prediction_spark.streaming.pipeline import medallion_sink

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    sink = medallion_sink(
        bronze, silver, app_id="kill-test", key="k",
        quality_pred="v >= 0", keep_versions=20,
    )
    b0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    sink(b0, 0)

    # batch 1 crashes between the two commits
    b1 = spark.createDataFrame([(3, 30), (2, 21)], "k long, v long")
    real_merge = ups_mod.merge_upsert

    def _boom(*a, **k):
        raise RuntimeError("injected crash before silver commit")

    monkeypatch.setattr(ups_mod, "merge_upsert", _boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        sink(b1, 1)
    monkeypatch.setattr(ups_mod, "merge_upsert", real_merge)

    # bronze is ahead: batch 1 landed there, not in silver, no link
    assert read_delta_log(spark, bronze).count() == 4
    assert read_committed(spark, silver).count() == 2
    links = _commit_links(silver)
    assert [r["batch_id"] for r in links] == [0]

    # the stream replays batch 1 (checkpoint never advanced)
    sink(b1, 1)
    assert read_delta_log(spark, bronze).count() == 4  # txn-token skip
    got = {
        r["k"]: r["v"] for r in read_committed(spark, silver).collect()
    }
    assert got == {1: 10, 2: 21, 3: 30}
    links = _commit_links(silver)
    assert [r["batch_id"] for r in links] == [0, 1]
    # the link pins the exact (bronze, silver) version pair
    _f, _m, bronze_v, _t, _p = delta_snapshot(spark, bronze)
    assert links[-1]["bronze_version"] == bronze_v

    # pure replay WITH the link present: no version burned anywhere
    vs_before = list_versions(spark, manifest_root(silver))
    sink(b1, 1)
    assert list_versions(spark, manifest_root(silver)) == vs_before
    _f, _m, bronze_v2, _t, _p = delta_snapshot(spark, bronze)
    assert bronze_v2 == bronze_v


def test_medallion_links_keyed_by_app_id(spark, tmp_path):
    """Round-9 ADVICE: commit links keyed by batch_id ALONE made a
    restarted stream with a fresh checkpoint (batch ids reset to 0) —
    or a second stream pointed at the same silver table — find a
    stale link and silently drop real batches. The link key is now
    (app_id, batch_id), the same idempotence key as the bronze txn
    token, so changing app_id (the documented remedy) works."""
    from time_series_prediction_spark.streaming.layout import (
        read_committed,
    )
    from time_series_prediction_spark.streaming.pipeline import medallion_sink

    bronze = str(tmp_path / "bronze")
    silver = str(tmp_path / "silver")
    sink_a = medallion_sink(
        bronze, silver, app_id="app-a", key="k",
        quality_pred="v >= 0", keep_versions=20,
    )
    sink_a(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), 0
    )
    assert read_committed(spark, silver).count() == 2

    # a SECOND stream (fresh checkpoint: its batch ids restart at 0)
    # feeds the same tables under a new app_id — its batch 0 must NOT
    # be swallowed by app-a's batch-0 link
    sink_b = medallion_sink(
        bronze, silver, app_id="app-b", key="k",
        quality_pred="v >= 0", keep_versions=20,
    )
    sink_b(
        spark.createDataFrame([(3, 30), (4, 40)], "k long, v long"), 0
    )
    got = {
        r["k"]: r["v"] for r in read_committed(spark, silver).collect()
    }
    assert got == {1: 10, 2: 20, 3: 30, 4: 40}, (
        "app-b's batch 0 was dropped by app-a's stale link"
    )
    links = _commit_links(silver)
    assert sorted(
        (link["app_id"], link["batch_id"]) for link in links
    ) == [("app-a", 0), ("app-b", 0)]

    # replay of app-b's batch 0 IS short-circuited by its own link
    before = len(_commit_links(silver))
    sink_b(
        spark.createDataFrame([(3, 30), (4, 40)], "k long, v long"), 0
    )
    assert len(_commit_links(silver)) == before
    assert read_committed(spark, silver).count() == 4
