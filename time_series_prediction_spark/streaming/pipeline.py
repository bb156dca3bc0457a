"""The composed ingestion sink: validate → WAP-commit → z-append as
ONE ``foreachBatch`` body.

Rounds 5–6 built the three ingestion disciplines separately —
row-level quarantine (``streaming/audit.py``), the batch-level
write-audit-publish gate, and z-ordered append
with incremental manifest commits (``streaming/layout.py``). A real
pipeline runs them as ONE sink per micro-batch:

1. **Row gate** (quarantine): the declared ``ColumnCheck`` predicates
   split the batch in one codegen'd pass; violating rows land under
   ``quarantine/batch-{id}`` WITH the names of the checks they
   failed. One poisoned row never blocks the batch.
2. **Batch gate** (WAP): the surviving rows are STAGED (invisible to
   readers — underscore prefix), and batch-level invariants that a
   row predicate cannot express (key uniqueness within the batch,
   bounded violation rates) are audited against the staged bytes.
   A red audit rejects the WHOLE batch: the staged dir moves to
   ``_rejected-batch-{id}`` with its audit report beside it, and THE
   STREAM CONTINUES — rejection artifacts are the on-call surface.
3. **Commit** (z-append): a green batch is z-order-written as
   ``batch-{id}`` and the versioned stats manifest advances by one
   atomic pointer flip. Readers see the batch exactly when the
   pointer lands; a pruned scan skips non-overlapping files. Note
   the publish re-orders the audited bytes (Morton sort) but never
   alters them — the WAP contract of "audit what you publish" holds
   row-for-row.
4. **Report**: one row per batch (counts + verdict) under
   ``report/batch-{id}``, overwritten on replay.

Replay idempotence end-to-end: every artifact is keyed by batch_id
with overwrite semantics, the staged dir is pid-suffixed, and the
manifest update drops the replayed batch dir's old rows before
folding in the fresh footer stats.

All filesystem steps run through ``sources/fsops.py`` (HDFS-portable;
S3 caveat documented there).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.quality_checks import (
    ColumnCheck,
    audit_columns,
)
from time_series_prediction_spark.sources.fsops import fs_for
from time_series_prediction_spark.streaming.audit import split_by_checks
from time_series_prediction_spark.streaming.layout import (
    commit_zordered_batch,
    manifest_root,
)


def violation_summary(report_df: DataFrame) -> list[tuple[str, int, int]]:
    return [
        (r.check_name, r.n_checked, r.n_violations) for r in report_df.collect()
    ]


def lakehouse_ingest_sink(
    data_path: str,
    row_checks: list[ColumnCheck],
    zcols: list[str],
    batch_checks: list[ColumnCheck] = (),
    unique_cols: list[str] = (),
    n_files: int = 4,
    max_violation_rate: float = 0.0,
    quarantine_path: str | None = None,
    report_path: str | None = None,
    root: str | None = None,
):
    """``foreachBatch`` body running the full lakehouse ingestion
    discipline per micro-batch. See module doc for the contract.

    ``row_checks`` quarantine individual rows; ``batch_checks`` +
    ``unique_cols`` gate the whole batch (WAP) — typically key
    uniqueness, which no per-row predicate can see."""
    quarantine_path = quarantine_path or data_path + "_quarantine"
    report_path = report_path or data_path + "_report"
    root = root or manifest_root(data_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        fs = fs_for(spark, data_path)

        # 1. row gate
        clean, bad = split_by_checks(batch_df, row_checks)
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("overwrite").parquet(
                os.path.join(quarantine_path, f"batch-{batch_id}")
            )
        n_clean = clean.count()
        verdict = "published"
        if n_clean:
            # 2. batch gate (WAP): stage invisibly, audit the staged
            # bytes, reject wholly on red
            staged = os.path.join(
                data_path, f"_staged-batch-{batch_id}-{os.getpid()}"
            )
            clean.write.mode("overwrite").parquet(staged)
            staged_df = spark.read.parquet(staged)
            rejected_dir = os.path.join(
                data_path, f"_rejected-batch-{batch_id}"
            )
            if batch_checks or unique_cols:
                report_df = audit_columns(
                    staged_df, list(batch_checks), unique_cols=unique_cols
                )
                report = violation_summary(report_df)
                red = [
                    (name, n, viol)
                    for name, n, viol in report
                    if n > 0 and viol > max_violation_rate * n
                ]
            else:
                report, red = [], []
            if red:
                fs.delete(rejected_dir)
                if not fs.rename(staged, rejected_dir):
                    fs.delete(staged)  # lost a replay race; keep winner
                else:
                    spark.createDataFrame(
                        report,
                        "check_name string, n_checked long, n_violations long",
                    ).write.mode("overwrite").parquet(
                        os.path.join(rejected_dir, "_audit_report")
                    )
                verdict = "rejected"
            else:
                # 3. commit: z-append + manifest pointer flip
                commit_zordered_batch(
                    staged_df,
                    batch_id,
                    data_path,
                    zcols,
                    n_files=n_files,
                    root=root,
                )
                fs.delete(staged)
        else:
            verdict = "empty"

        # 4. per-batch report row
        spark.createDataFrame(
            [
                (
                    int(batch_id),
                    n_clean + n_bad,
                    n_clean,
                    n_bad,
                    verdict,
                )
            ],
            "batch_id long, n_rows long, n_clean long, "
            "n_quarantined long, verdict string",
        ).write.mode("overwrite").parquet(
            os.path.join(report_path, f"batch-{batch_id}")
        )

    return _sink


def medallion_sink(
    bronze_path: str,
    silver_path: str,
    app_id: str,
    key: str,
    quality_pred: str,
    seq_col: str | None = None,
    keep_versions: int = 2,
):
    """Bronze → silver as ONE ``foreachBatch`` body — the medallion
    reference architecture on this engine's native formats:

    1. **Bronze**: the raw batch appends to a native Delta table
       exactly-once (txn-token idempotence,
       ``sources/deltalog.delta_stream_sink``) — the immutable
       replayable log, duplicates and bad rows included.
    2. **Silver**: the batch filtered by ``quality_pred`` and
       key-deduplicated DETERMINISTICALLY, then upserted into the CoW
       table — the clean, queryable, mutation-capable layer.
       Cross-batch re-arrivals collapse via the MERGE itself.

    Determinism contract for the intra-batch dedup: a crash between
    the silver MERGE commit and the stream checkpoint replays the
    batch, so the per-key pick must be identical both times. With
    ``seq_col`` the greatest sequence wins (``dedup_last_writer`` —
    the CDC-feed path). Without it, only EXACT-copy duplicates may
    collapse: key-duplicate rows whose payloads differ have no
    defined winner and the sink raises instead of picking one
    arbitrarily (an arbitrary ``dropDuplicates([key])`` pick could
    differ on replay, breaking state idempotence).

    Gold is whatever aggregates read silver — e.g. the registry's
    ``events_medallion_scan``, or an incremental CDC-folded view
    (``operators/incremental.py``) when rescanning silver per refresh
    is too expensive."""
    from time_series_prediction_spark.sources.deltalog import (
        delta_stream_sink,
    )
    from time_series_prediction_spark.streaming.upsert import (
        dedup_last_writer,
        merge_ingest_sink,
    )

    bronze = delta_stream_sink(bronze_path, app_id)
    silver = merge_ingest_sink(
        silver_path, key=key, keep_versions=keep_versions,
    )

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # cross-table commit protocol: bronze and silver commit
        # independently, so a crash can land BETWEEN them. The link
        # record written after the silver commit is the proof of
        # which batches are folded into silver; on replay it also
        # short-circuits the silver merge (bronze's txn token already
        # short-circuits the bronze append), so a replayed batch
        # burns no extra manifest version on either table.
        if _read_commit_link(
            spark, silver_path, app_id, batch_id
        ) is not None:
            return  # both tables committed this batch — pure replay
        bronze(batch_df, batch_id)
        clean = batch_df.where(quality_pred)
        if seq_col is not None:
            clean = dedup_last_writer(clean, key, seq_col).drop(seq_col)
        else:
            # exact-copy duplicates collapse; differing payloads under
            # one key are a feed bug this sink must not resolve by an
            # arbitrary (replay-unstable) pick
            clean = clean.dropDuplicates()
            conflicted = (
                clean.groupBy(key).count().where("count > 1")
                .limit(1).count()
            )
            if conflicted:
                raise ValueError(
                    f"medallion batch {batch_id} has key-duplicate "
                    "rows with DIFFERING payloads and no seq_col — "
                    "no deterministic per-key winner; pass seq_col "
                    "or fix the feed"
                )
        if not clean.isEmpty():
            silver(clean, batch_id)
        _write_commit_link(
            spark, bronze_path, silver_path, app_id, batch_id
        )

    return _sink


_LINK_DIR_SUFFIX = "_txn"


def _link_dir(silver_path: str) -> str:
    return silver_path.rstrip("/") + _LINK_DIR_SUFFIX


def _link_name(app_id: str, batch_id: int) -> str:
    """One link file per (app_id, batch_id) — the SAME idempotence key
    as the bronze txn token. Keying by batch_id alone (round-9 ADVICE)
    made a restarted stream with a fresh checkpoint (batch ids reset
    to 0) — or a second stream pointed at the same silver table — find
    a stale link and silently drop real batches before the bronze
    append; changing app_id, the documented remedy, didn't help
    because the link ignored it. The app_id is percent-encoded so it
    can't smuggle path separators into the link dir."""
    import urllib.parse as _up

    return f"batch-{_up.quote(app_id, safe='')}-{batch_id}.json"


def _write_commit_link(
    spark, bronze_path: str, silver_path: str, app_id: str,
    batch_id: int,
) -> None:
    """Record ((app_id, batch_id) → bronze version, silver version)
    AFTER both tables committed — the cross-table watermark that makes
    'which bronze versions are folded into silver' provable instead of
    inferred. Atomic single-file write keyed by (app_id, batch_id); a
    replay overwrites with identical content."""
    import json as _json

    from time_series_prediction_spark.sources.deltalog import (
        delta_snapshot,
    )
    from time_series_prediction_spark.sources.fsops import fs_for
    from time_series_prediction_spark.streaming.layout import (
        current_version,
        manifest_root,
    )

    _files, _meta, bronze_v, _txns, _proto = delta_snapshot(
        spark, bronze_path
    )
    silver_v = current_version(spark, manifest_root(silver_path))
    fs = fs_for(spark, silver_path)
    d = _link_dir(silver_path)
    fs.mkdirs(d)
    name = _link_name(app_id, batch_id)
    tmp = os.path.join(d, f".{name}.tmp-{os.getpid()}")
    fs.write_text(
        tmp,
        _json.dumps(
            {
                "app_id": app_id,
                "batch_id": int(batch_id),
                "bronze_version": int(bronze_v),
                "silver_version": (
                    None if silver_v is None else int(silver_v)
                ),
            }
        ),
    )
    fs.replace_file(tmp, os.path.join(d, name))


def _read_commit_link(
    spark, silver_path: str, app_id: str, batch_id: int
) -> dict | None:
    import json as _json

    from time_series_prediction_spark.sources.fsops import fs_for

    fs = fs_for(spark, silver_path)
    p = os.path.join(_link_dir(silver_path), _link_name(app_id, batch_id))
    if not fs.exists(p):
        return None
    link = _json.loads(fs.read_text(p))
    # belt-and-braces: the filename already encodes app_id, but the
    # contents must agree (a hand-moved link file must not replay-skip
    # someone else's batch)
    if link.get("app_id") != app_id:
        return None
    return link
