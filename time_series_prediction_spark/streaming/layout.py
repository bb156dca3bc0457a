"""Streaming lakehouse ingestion: z-ordered append + incremental
stats-manifest maintenance per micro-batch.

Composes the batch pieces the engine already has —
``operators.zorder.write_zordered`` (per-batch Morton layout) and
``operators.manifest.build_stats_manifest`` (footer-read only the
batch's new files) — into the continuous loop a 100 TB pipeline actually runs: a
``foreachBatch`` sink that lands each micro-batch as its own set of
Morton-sorted files and folds just their footers into a versioned
manifest.

Design points (the Delta/Iceberg commit protocol, minus the format):

* **Idempotent replay.** Structured Streaming re-runs a micro-batch
  with the same ``batch_id`` after a failure; the sink writes each
  batch into its own ``batch-{id}`` subdirectory with ``overwrite``
  mode, so a replay rewrites the same directory instead of appending
  duplicates. The manifest update then sees the replay's fresh file
  names (old ones vanish, new ones appear) and stays consistent.
* **Atomic manifest versions.** Each batch publishes the manifest as
  a new ``v{batch_id}`` directory and then atomically replaces a tiny
  ``_LATEST`` pointer file (the ``_last_checkpoint`` pattern, via the
  Hadoop FileContext rename-with-OVERWRITE — atomic on HDFS and the
  local FS; see ``sources/fsops.py`` for the S3 caveat): readers
  either see the previous complete version or the new one, never a
  half-written directory. The pointed-to version is additionally
  gated on its ``_SUCCESS`` marker.
* **Bounded metadata.** Only the newest manifest versions are kept
  (``keep_versions``); the per-batch update footer-reads ONLY the new
  files, so steady-state cost is proportional to the batch, not the
  table.
* **Readers skip, never re-scan.** ``current_manifest`` +
  ``operators.manifest.pruned_scan`` answer range queries reading
  only overlapping files; the underscore-prefixed manifest root is
  invisible to Spark's data-file discovery.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from time_series_prediction_spark.operators.manifest import (
    build_stats_manifest,
    prune_files,
    pruned_scan,
)
from time_series_prediction_spark.operators.zorder import write_zordered
from time_series_prediction_spark.sources.fsops import Fs, fs_for

_LATEST = "_LATEST"

# manifest staging dirs must be unique per commit ATTEMPT, not just
# per process — two threads racing on the same version number would
# otherwise interleave writes into one staging dir before the CAS
import itertools as _itertools
import threading as _threading

_STAGE_SEQ = _itertools.count()


def manifest_root(data_path: str) -> str:
    """Default manifest location: an underscore-prefixed dir inside
    the table, hidden from Spark's data-file discovery and this
    module's own recursive listing."""
    return os.path.join(data_path, "_manifest_log")


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this manifest version first — rebase
    against the new current state and retry with a fresh version."""


def _local_fs_path(p: str) -> str | None:
    """Local filesystem path for ``p`` (strips a file: scheme), or
    None when ``p`` lives on a non-local scheme."""
    if p.startswith("file:"):
        return "/" + p.split(":", 1)[1].lstrip("/")
    if "://" in p.split("/", 1)[0] or ":" in p.split("/", 1)[0]:
        return None
    return p


def _write_manifest_local(
    staged: str,
    man_rows: list[tuple],
    dv_rows: tuple[list[str], list[tuple]] | None,
    schema_json: str | None,
) -> None:
    """Stage a manifest version entirely on the driver (pyarrow):
    the manifest part file, the optional ``_dv`` deletion-vector
    sidecar, ``_schema.json``, and the ``_SUCCESS`` markers Spark's
    committer would have produced — byte-compatible with the Spark
    write path, zero Spark jobs. Commits are metadata-sized by
    design; scheduling 3-5 fixed-overhead jobs to write a few KB of
    parquet was the dominant cost of every small MERGE/DELETE."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(staged, exist_ok=True)
    cols = list(zip(*man_rows)) if man_rows else [[] for _ in range(8)]
    tbl = pa.table(
        {
            "file": pa.array(cols[0], pa.string()),
            "col": pa.array(cols[1], pa.string()),
            "n_rows": pa.array(cols[2], pa.int64()),
            "vmin": pa.array(cols[3], pa.float64()),
            "vmax": pa.array(cols[4], pa.float64()),
            "has_nulls": pa.array(cols[5], pa.bool_()),
            "vmin_s": pa.array(cols[6], pa.string()),
            "vmax_s": pa.array(cols[7], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(staged, "part-00000-local.parquet"))
    open(os.path.join(staged, "_SUCCESS"), "w").close()
    if dv_rows is not None:
        dv_cols, rows = dv_rows
        dvdir = os.path.join(staged, "_dv")
        os.makedirs(dvdir, exist_ok=True)
        per_col = list(zip(*rows)) if rows else [[] for _ in dv_cols]
        dv_tbl = pa.table(
            {c: pa.array(list(v)) for c, v in zip(dv_cols, per_col)}
        )
        pq.write_table(
            dv_tbl, os.path.join(dvdir, "part-00000-local.parquet")
        )
        open(os.path.join(dvdir, "_SUCCESS"), "w").close()
    if schema_json is not None:
        with open(os.path.join(staged, "_schema.json"), "w") as f:
            f.write(schema_json)


def publish_manifest(
    man: DataFrame,
    root: str,
    version: int,
    keep_versions: int = 2,
    dv: DataFrame | None = None,
    schema_json: str | None = None,
    man_rows: list[tuple] | None = None,
    dv_rows: tuple[list[str], list[tuple]] | None = None,
) -> str:
    """Commit ``man`` as ``root/v{version}`` via stage + atomic
    compare-and-swap rename — the optimistic-concurrency commit:
    whoever renames ``v{version}`` into place first OWNS that version
    number; a concurrent writer that lost the race gets
    ``ConcurrentCommitError`` (its staging dir is discarded) and must
    rebase. Streaming sinks are single-writer by construction and
    never hit the conflict path; cow MERGE/DELETE retry with a
    rebase loop (operators/cow.py).

    The ``_LATEST`` pointer is maintained afterwards as a
    monotonically-advancing hint for humans and older readers;
    READERS resolve the newest COMPLETE version dir (atomic-rename ⇒
    a version dir is either absent or whole), so a crash between the
    version rename and the pointer flip cannot hide a commit. All but
    the newest ``keep_versions`` committed versions are pruned."""
    fs = fs_for(man.sparkSession, root)
    fs.mkdirs(root)
    vname = f"v{version}"
    final = os.path.join(root, vname)
    staged = os.path.join(
        root,
        f".{vname}.build-{os.getpid()}"
        f"-{_threading.get_ident()}-{next(_STAGE_SEQ)}",
    )
    fs.delete(staged)
    staged_local = _local_fs_path(staged)
    if man_rows is not None and dv is None and staged_local is not None:
        # the whole commit is driver-resident metadata: stage it with
        # pyarrow — zero Spark jobs (see _write_manifest_local)
        _write_manifest_local(staged_local, man_rows, dv_rows, schema_json)
    else:
        if dv is None and dv_rows is not None:
            # driver-resident deletion vector but the local fast path is
            # unavailable (non-local root, or the caller's man_rows fell
            # back to the Spark manifest): materialize it into a frame so
            # the cumulative DV is NEVER dropped by this branch — losing
            # _dv would resurrect every tombstoned row on the next read
            import pandas as _pd

            dv_cols, dv_tuples = dv_rows
            dv = man.sparkSession.createDataFrame(
                _pd.DataFrame(dv_tuples, columns=dv_cols)
            )
        # manifests are metadata-sized (files × stats_cols rows): land
        # them as ONE part file. repartition — not coalesce — so the
        # upstream plan (footer-stats mapInPandas, carry-over anti-join)
        # keeps its parallelism; the 1-row-group shuffle is trivial while
        # the N-task write it replaces paid the Hadoop commit protocol
        # once per task. A manifest too big for one file is a table with
        # ~10⁷ files — shard the table first, not the manifest.
        man.repartition(1).write.mode("overwrite").parquet(staged)
        if dv is not None:
            # deletion vector: the version's CUMULATIVE deleted-key set,
            # committed atomically inside the version dir (written before
            # the CAS rename; the underscore prefix hides it from the
            # manifest parquet read). One single-column frame of keys —
            # scattered deletes cost metadata, not file rewrites.
            dv.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(staged, "_dv")
            )
        if schema_json is not None:
            # the table schema rides inside the version dir so a version
            # whose manifest references ZERO files (a DELETE emptied the
            # table) still reads as an empty TYPED frame, not an error
            fs.write_text(
                os.path.join(staged, "_schema.json"), schema_json
            )
    if not fs.publish_dir(staged, final):
        fs.delete(staged)
        raise ConcurrentCommitError(
            f"manifest version {version} already committed under {root}"
        )
    try:
        cur = fs.read_text(os.path.join(root, _LATEST)).strip()
        cur_n = int(cur[1:]) if cur.startswith("v") else -1
    except Exception:  # noqa: BLE001 — pointer absent on first commit
        cur_n = -1
    if version > cur_n:  # never move the hint backwards
        tmp = os.path.join(root, f".latest.tmp.{os.getpid()}")
        fs.write_text(tmp, vname)
        fs.replace_file(tmp, os.path.join(root, _LATEST))
    versions = sorted(
        (d for d in fs.list_names(root) if d.startswith("v")),
        key=lambda d: int(d[1:]),
    )
    for stale in versions[:-keep_versions]:
        fs.delete(os.path.join(root, stale))
    _gc_abandoned_staging(fs, root)
    return final


# staging dirs from writers that crashed mid-commit; reclaim after a
# grace window long enough that no live commit attempt can be that old
_STAGING_GC_AGE_S = 3600.0


def _gc_abandoned_staging(fs: Fs, root: str) -> None:
    import time as _time

    now_ms = _time.time() * 1000.0
    for name in fs.list_names(root):
        if not (name.startswith(".v") and ".build-" in name):
            continue
        p = os.path.join(root, name)
        st = fs.status(p)
        if st is not None and now_ms - st[1] > _STAGING_GC_AGE_S * 1000.0:
            fs.delete(p)


def current_version(spark: SparkSession, root: str) -> int | None:
    """Newest COMMITTED version number, or None. Commit = the version
    dir exists complete (``_SUCCESS`` inside — dirs appear atomically
    via the CAS rename); the ``_LATEST`` pointer is only a hint, so a
    writer crash between version rename and pointer flip can never
    hide or un-order a commit."""
    fs = fs_for(spark, root)
    best = -1
    for name in fs.list_names(root):
        if name.startswith("v") and name[1:].isdigit():
            n = int(name[1:])
            if n > best and fs.exists(os.path.join(root, name, "_SUCCESS")):
                best = n
    return None if best < 0 else best


def current_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    """The newest COMMITTED manifest version, or None when nothing
    has been published (see ``current_version``)."""
    v = current_version(spark, root)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(root, f"v{v}"))


def version_dv(
    spark: SparkSession, root: str, version: int
) -> DataFrame | None:
    """The deletion vector committed with ``v{version}`` (one column
    named after the table key, holding the cumulative deleted keys),
    or None when the version carries no DV."""
    dvdir = os.path.join(root, f"v{version}", "_dv")
    if not fs_for(spark, root).exists(os.path.join(dvdir, "_SUCCESS")):
        return None
    dv = spark.read.parquet(dvdir)
    return None if not dv.columns else dv


def version_schema_struct(spark: SparkSession, root: str, version: int):
    """The ``StructType`` recorded with ``v{version}`` (written by cow
    commits as ``_schema.json``), or None when the version predates
    schema recording. Readers pass it as the EXPLICIT scan schema —
    skipping parquet footer inference (one Spark job per read) and
    making schema-evolved reads exact: files predating a column yield
    nulls for it, per the recorded (authoritative) shape."""
    import json

    from pyspark.sql.types import StructType

    p = os.path.join(root, f"v{version}", "_schema.json")
    fs = fs_for(spark, root)
    if not fs.exists(p):
        return None
    return StructType.fromJson(json.loads(fs.read_text(p)))


def version_schema(
    spark: SparkSession, root: str, version: int
) -> DataFrame | None:
    """The empty TYPED frame for the schema recorded with
    ``v{version}``, or None when the version predates schema
    recording. This is what makes a table whose last DELETE removed
    every row still readable."""
    st = version_schema_struct(spark, root, version)
    if st is None:
        return None
    return spark.createDataFrame([], st)


def apply_dv(df: DataFrame, dv: DataFrame | None) -> DataFrame:
    """Merge-on-read: hide DV keys from a scan (anti join on ALL of
    the DV's key columns — tuple matching for composite-key tables,
    broadcast-sized by construction)."""
    if dv is None:
        return df
    from pyspark.sql import functions as _F

    return df.join(_F.broadcast(dv), list(dv.columns), "left_anti")


def _next_version(fs: Fs, root: str) -> int:
    """Next manifest version number: one past the newest published
    version (streaming batches and compactions share one monotonic
    sequence, so the ``_LATEST`` pointer never moves backwards)."""
    versions = [int(d[1:]) for d in fs.list_names(root) if d.startswith("v")]
    return max(versions, default=-1) + 1


def zorder_ingest_sink(
    data_path: str,
    zcols: list[str],
    n_files: int = 4,
    root: str | None = None,
):
    """``foreachBatch`` function landing each micro-batch as its own
    z-ordered ``batch-{id}`` directory and committing an incrementally
    updated manifest version. Pass to
    ``stream.writeStream.foreachBatch(...)``.

    The manifest update is LOG-IS-TRUTH (the Delta discipline): the
    new version = previous version minus any rows for this batch's
    directory (a replay overwrote it) plus footer stats for the files
    just written. No disk-wide listing per commit — the per-batch
    metadata cost is proportional to the batch, independent of how
    many files the table has accumulated, and files awaiting vacuum
    after a compaction are never resurrected by a listing."""
    root = root or manifest_root(data_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        commit_zordered_batch(
            batch_df, batch_id, data_path, zcols, n_files=n_files, root=root
        )

    return _sink


def commit_zordered_batch(
    batch_df: DataFrame,
    batch_id: int,
    data_path: str,
    zcols: list[str],
    n_files: int = 4,
    root: str | None = None,
) -> str:
    """One z-append commit: land ``batch_df`` as the z-ordered
    ``batch-{id}`` dir (overwrite → replay-idempotent) and publish the
    incrementally updated manifest version. Shared by the plain
    z-ingest sink and the composed validate→WAP→z-append sink
    (``streaming/pipeline.py``). Returns the batch dir."""
    spark = batch_df.sparkSession
    root = root or manifest_root(data_path)
    bdir = os.path.join(data_path, f"batch-{batch_id}")
    write_zordered(batch_df, bdir, zcols, n_files=n_files)
    # resolve the base version ONCE and commit to exactly base+1: if
    # anything else commits in between, the CAS fails loudly instead
    # of silently superseding the interleaved manifest (streaming
    # sinks are single-writer by construction, so this never fires in
    # the steady state — it turns a misconfiguration into an error)
    base_v = current_version(spark, root)
    prev = (
        None
        if base_v is None
        else spark.read.parquet(os.path.join(root, f"v{base_v}"))
    )
    fresh = build_stats_manifest(spark, bdir, zcols)
    if prev is None:
        # bootstrap: fold in whatever already lives in the table
        man = build_stats_manifest(spark, data_path, zcols)
    else:
        # the replay filter must compare in the LISTING's resolved
        # path form — a relative/`file:`-URI data_path would never
        # textually prefix-match the manifest's absolute `file`
        # values, silently resurrecting the overwritten batch's
        # old rows (the same normalization _footer_stats uses)
        from time_series_prediction_spark.operators.manifest import (
            _resolve_base,
        )

        rbdir = _resolve_base(bdir, spark)
        kept = prev.where(~F.col("file").startswith(rbdir + "/"))
        man = kept.unionByName(fresh)
    publish_manifest(man, root, (-1 if base_v is None else base_v) + 1)
    return bdir


def compact_layout(
    spark: SparkSession,
    data_path: str,
    zcols: list[str],
    n_files: int = 8,
    root: str | None = None,
    keep_versions: int = 2,
) -> str | None:
    """OPTIMIZE: rewrite every file the current manifest commits to —
    the small per-batch generations streaming accumulates — into one
    fresh z-ordered ``compact-{gen}`` generation, then commit a
    manifest version that references ONLY the new generation. Readers
    switch atomically at the pointer flip; superseded generations
    stay on disk (an in-flight reader may hold the old version) until
    ``vacuum_layout`` reclaims them. Returns the new generation dir,
    or None when nothing has been committed yet.

    This resets the cross-batch curve overlap that per-batch
    z-order normalization (``zorder_ingest_sink``) accumulates — the
    periodic re-optimize every lakehouse runs.

    Concurrency: the commit is PINNED to ``v + 1`` where ``v`` is the
    version the file set and deletion vector were read from — any
    writer that lands in between (a merge, a DV delete) takes v+1
    first, this compaction's CAS fails, and the loop re-reads the new
    state and replans. Committing to a later number instead would
    silently drop the interleaved commit (and a dropped DV would
    RESURRECT its tombstoned rows)."""
    root = root or manifest_root(data_path)
    fs = fs_for(spark, root)
    last_err: ConcurrentCommitError | None = None
    for _ in range(4):
        v = current_version(spark, root)
        if v is None:
            return None
        man = spark.read.parquet(os.path.join(root, f"v{v}"))
        files = prune_files(man, {})
        gen = v + 1  # pinned: CAS-fails if anyone commits after our read
        if not files:
            return None  # nothing to compact (emptied table)
        cdir = os.path.join(
            data_path,
            f"compact-{gen}-p{os.getpid()}-{next(_COMPACT_SEQ)}",
        )
        # materialize any deletion vector: the compacted generation
        # holds only VISIBLE rows and the new version carries no DV
        rows = apply_dv(
            spark.read.parquet(*files), version_dv(spark, root, v)
        )
        write_zordered(rows, cdir, zcols, n_files=n_files)
        try:
            publish_manifest(
                build_stats_manifest(spark, cdir, zcols), root, gen,
                keep_versions=keep_versions,
            )
            return cdir
        except ConcurrentCommitError as e:
            fs.delete(cdir)  # lost attempt's data — never referenced
            last_err = e  # rebase: replan over the new current state
    raise last_err


_COMPACT_SEQ = _itertools.count()


def vacuum_layout(
    spark: SparkSession,
    data_path: str,
    root: str | None = None,
    grace_s: float = 3600.0,
) -> list[str]:
    """Reclaim data generations referenced by NO retained manifest
    version (superseded by compaction/rewrite beyond the retention
    window), keeping anything younger than ``grace_s`` — the grace
    protects readers that resolved a version just before it was
    pruned, and concurrent in-flight writes. Returns the removed
    directories.

    The referenced set is the UNION over every retained committed
    version's file list — ``keep_versions`` retains old manifests
    precisely so time travel and CDC can read them, and a vacuum that
    honored only the newest would delete files those reads still
    need. The union costs ≤ keep_versions tiny manifest scans.

    Deletion runs through the Hadoop FileSystem API, so the same loop
    reclaims local dirs, HDFS dirs, or object-store prefixes."""
    import time

    root = root or manifest_root(data_path)
    fs = fs_for(spark, data_path)
    rfs = fs_for(spark, root)
    referenced: set[str] = set()
    n_versions = 0
    for name in rfs.list_names(root):
        if not (name.startswith("v") and name[1:].isdigit()):
            continue
        vdir = os.path.join(root, name)
        if not rfs.exists(os.path.join(vdir, "_SUCCESS")):
            continue
        n_versions += 1
        # manifests fold driver-side when local (zero Spark jobs for
        # the whole reference union); Spark path otherwise
        from time_series_prediction_spark.operators.manifest import (
            local_manifest_files,
        )

        local = local_manifest_files(vdir)
        if local is not None:
            referenced.update(local)
        else:
            referenced.update(
                prune_files(spark.read.parquet(vdir), {})
            )
    if not n_versions:
        return []
    removed = []
    for name in sorted(fs.list_names(data_path)):
        if name.startswith(("_", ".")):
            continue
        d = os.path.join(data_path, name)
        if not fs.is_dir(d):
            continue
        st = fs.status(d)
        if st is not None and time.time() * 1000.0 - st[1] < grace_s * 1000.0:
            continue
        from time_series_prediction_spark.operators.manifest import (
            list_parquet_files,
        )

        dirfiles = list_parquet_files(d, spark)
        if dirfiles and referenced.isdisjoint(dirfiles):
            fs.delete(d)
            removed.append(d)
    return removed


def read_committed(
    spark: SparkSession,
    data_path: str,
    root: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read exactly the files the current manifest version commits to
    — the only correct full-table read once compactions run (a raw
    recursive scan would double-count superseded generations awaiting
    vacuum). ``merge_schema`` for schema-evolved tables (files
    predating a column read it as null)."""
    from time_series_prediction_spark.operators.manifest import (
        local_manifest_files,
    )

    root = root or manifest_root(data_path)
    v = current_version(spark, root)
    if v is None:
        raise ValueError(f"no committed manifest under {root}")
    vdir = os.path.join(root, f"v{v}")
    # fast path: the manifest is metadata-sized — resolve the file
    # list driver-side (zero Spark jobs); the Spark read below stays
    # as the any-filesystem fallback
    files = local_manifest_files(vdir)
    if files is not None:
        if not files:
            empty = version_schema(spark, root, v)
            if empty is not None:
                return empty
            raise ValueError(
                f"manifest v{v} under {root} references no files and "
                "records no schema — empty manifest, build it first"
            )
        reader = spark.read
        # the commit's recorded schema skips footer inference (a
        # Spark job per read) AND covers schema evolution exactly
        st = version_schema_struct(spark, root, v)
        if st is not None:
            reader = reader.schema(st)
        elif merge_schema:
            reader = reader.option("mergeSchema", "true")
        return apply_dv(
            reader.parquet(*files), version_dv(spark, root, v)
        )
    man = spark.read.parquet(vdir)
    if man.select("file").first() is None:
        # a DELETE emptied the table: zero files is a valid state —
        # read it as an empty frame in the recorded schema
        empty = version_schema(spark, root, v)
        if empty is not None:
            return empty
        raise ValueError(
            f"manifest v{v} under {root} references no files and "
            "records no schema — empty manifest, build it first"
        )
    return apply_dv(
        pruned_scan(spark, man, {}, merge_schema=merge_schema),
        version_dv(spark, root, v),
    )
