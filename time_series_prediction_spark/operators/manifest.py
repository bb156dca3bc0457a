"""File-statistics manifest: lakehouse-style file skipping for plain
parquet directories.

Z-ordering (operators/zorder.py) makes per-file column ranges narrow;
this module exploits them the way Delta/Iceberg metadata does, without
requiring either format: build a (file, column, min, max, rows)
manifest once, then answer range/point queries by scanning ONLY the
files whose ranges overlap the predicate.

Scale shape: footer reads are distributed — the file list parallelizes
across executors and each task opens only metadata (no data pages), so
a million-file table builds its manifest in one embarrassingly
parallel pass. The manifest itself is tiny (files × columns rows) and
is the natural thing to persist alongside the data and maintain
incrementally on append (``streaming/layout.commit_zordered_batch``
footer-reads only a new batch's files). Pruning is a filter over the manifest plus a
parquet scan of the surviving paths; the predicate is re-applied after
the scan, so pruning can only skip work, never change results
(verified in tests against the unpruned scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_SCHEMA = (
    "file string, col string, n_rows long, vmin double, vmax double, "
    "has_nulls boolean, vmin_s string, vmax_s string"
)

# bumped whenever the manifest row schema changes; layout caches fold
# it into their identity so a cache persisted under an older format
# rebuilds instead of failing schema comparisons
MANIFEST_FORMAT = "mf2"


def _is_data_file(rel: str) -> bool:
    """True for ``a=1/b=2/part-0.parquet``-style relative paths: every
    component must be visible (no ``.``/``_`` prefix — that filters
    _SUCCESS, _delta_log/, .crc) and the leaf must be parquet.
    Partition directories (``col=value``) pass untouched."""
    parts = [p for p in rel.split("/") if p]
    if not parts or not parts[-1].endswith(".parquet"):
        return False
    return not any(p.startswith((".", "_")) for p in parts)


def list_parquet_files(
    path: str, spark: SparkSession | None = None
) -> list[str]:
    """RECURSIVE data-file listing under ``path`` — composes with
    partitioned (``col=value/`` dirs) and z-ordered output, not just
    flat directories.

    Listing goes through the Hadoop FileSystem API when a Spark
    session is available (the same code path Spark's own file index
    uses), so the LISTING works against any Spark-supported
    filesystem — local, HDFS, S3A — not just the driver's local
    disk; falls back to ``os.walk`` with no session. Hidden files and
    directories (``.``/``_`` prefixed) are skipped at every level.

    Note: remote listings return full scheme URIs (``s3a://…``).
    The footer reader (``_footer_stats``) opens files with pyarrow,
    which handles local paths and ``s3://``/``hdfs://``-style URIs it
    has filesystems for — an ``s3a://`` URI must be mapped to
    pyarrow's S3 filesystem (or read through Spark) before footer
    scanning; only the local path flow is exercised in this repo's
    tests."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        jvm = spark._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(hconf)
        if not fs.exists(jpath):
            return []
        status = fs.getFileStatus(jpath)
        base_uri = status.getPath().toUri()
        base = base_uri.getPath().rstrip("/")
        scheme = base_uri.getScheme()
        local = scheme in (None, "file")
        if status.isFile():
            # caller pointed at a file explicitly — treat it as a data
            # file regardless of suffix, matching the no-session branch
            return [path]
        it = fs.listFiles(jpath, True)  # recursive
        out = []
        while it.hasNext():
            fpath = it.next().getPath()
            p = fpath.toUri().getPath()
            if not _is_data_file(p[len(base):]):
                continue
            out.append(p if local else fpath.toString())
        return sorted(out)
    # no-session fallback: local filesystem walk
    if os.path.isfile(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _resolve_base(path: str, spark: SparkSession | None = None) -> str:
    """Normalize ``path`` through the SAME FileSystem/URI resolution
    the listing uses, so the partition-value prefix check in
    ``_footer_stats`` matches the listed absolute paths even when the
    caller passed a relative path or a ``file:``-prefixed URI (the
    listing returns resolved paths; a textual mismatch would silently
    disable partition-column pruning rows)."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        try:
            jvm = spark._jvm
            hconf = spark.sparkContext._jsc.hadoopConfiguration()
            jpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = jpath.getFileSystem(hconf)
            status = fs.getFileStatus(jpath)
            uri = status.getPath().toUri()
            if uri.getScheme() in (None, "file"):
                return uri.getPath().rstrip("/")
            return status.getPath().toString().rstrip("/")
        except Exception:  # noqa: BLE001 — path may not exist yet
            pass
    return os.path.abspath(path).rstrip("/")


def _partition_values(rel: str) -> dict[str, object]:
    """Partition-column values parsed from a Hive-style relative path
    (``x=5/y=a/part-0.parquet`` → {x: 5.0, y: 'a'}): numeric values
    land in the double stats columns, everything else in the string
    ones — so string partition keys prune like numeric ones."""
    out: dict[str, object] = {}
    for comp in rel.split("/")[:-1]:
        if "=" not in comp:
            continue
        k, _, v = comp.partition("=")
        try:
            out[k] = float(v)
        except ValueError:
            out[k] = v
    return out


def _encode_stat(v: object) -> tuple[str, object] | None:
    """Map a parquet row-group statistic to the manifest's typed
    bounds: ``('n', float)`` for numeric kinds, ``('s', str)`` for
    string kinds, or None when no faithful order-preserving encoding
    exists (timestamps with writer-dependent timezone handling,
    decimals stored as FLBA, undecodable bytes) — the file then stays
    stats-blind on that column, which only disables skipping, never
    correctness.

    Date values encode as days-since-epoch, matching Spark's
    ``unix_date``; UTF-8 bytes decode to ``str`` (Python's code-point
    order == UTF-8 byte order == Spark's UTF8String binary order, so
    the three comparers agree)."""
    import datetime as _dt

    if isinstance(v, bool):
        return ("n", float(v))
    if isinstance(v, (int, float)):
        return ("n", float(v))
    if isinstance(v, _dt.datetime):  # tz semantics vary by writer
        return None
    if isinstance(v, _dt.date):
        return ("n", float((v - _dt.date(1970, 1, 1)).days))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, bytes):
        try:
            return ("s", v.decode("utf-8"))
        except UnicodeDecodeError:
            return None
    return None


def _footer_rows(
    f: str, want: list[str], base_n: str | None
) -> list[tuple]:
    """Manifest rows for ONE parquet file from its footer (metadata
    only, no data pages) — the shared kernel of the executor-side
    ``mapInPandas`` scan and the driver-side small-commit path."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(f).metadata
    idx = {
        meta.schema.column(i).path: i
        for i in range(meta.num_columns)
    }
    pvals = {}
    if base_n and f.startswith(base_n + "/"):
        pvals = _partition_values(f[len(base_n) + 1:])
    out: list[tuple] = []
    for c in want:
        if c in pvals and c not in idx:
            kind, v = _encode_stat(pvals[c])
            row = (
                (f, c, meta.num_rows, v, v, False, None, None)
                if kind == "n"
                else (f, c, meta.num_rows, None, None, False, v, v)
            )
            out.append(row)
            continue
        if c not in idx:
            continue
        mn = mx = None  # numeric bounds
        mns = mxs = None  # string bounds
        nulls = False
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(idx[c]).statistics
            if st is None or not st.has_min_max:
                nulls = True
                continue
            lo, hi = _encode_stat(st.min), _encode_stat(st.max)
            if lo is None or hi is None or lo[0] != hi[0]:
                nulls = True  # no faithful encoding → blind
                continue
            if lo[0] == "n":
                mn = lo[1] if mn is None else min(mn, lo[1])
                mx = hi[1] if mx is None else max(mx, hi[1])
            else:
                mns = lo[1] if mns is None else min(mns, lo[1])
                mxs = hi[1] if mxs is None else max(mxs, hi[1])
            if st.null_count:
                nulls = True
        out.append((f, c, meta.num_rows, mn, mx, nulls, mns, mxs))
    return out


def _footer_stats(
    file_df: DataFrame, cols: list[str], base: str | None = None
) -> DataFrame:
    """mapInPandas footer scan over a one-column (file) frame —
    metadata only, no data pages; executor-side via pyarrow. With
    ``base`` given, Hive-style partition components of each file's
    path also yield manifest rows (vmin = vmax = the partition
    value), so partition-column predicates prune exactly like
    data-column ones."""
    import pandas as pd

    want = list(cols)
    base_n = base.rstrip("/") if base else None

    def read_footers(batches):
        for pdf in batches:
            out = []
            for f in pdf["file"]:
                out.extend(_footer_rows(f, want, base_n))
            yield pd.DataFrame(
                out,
                columns=[
                    "file", "col", "n_rows", "vmin", "vmax", "has_nulls",
                    "vmin_s", "vmax_s",
                ],
            )

    return file_df.mapInPandas(read_footers, schema=_MANIFEST_SCHEMA)


# a commit generation of up to this many files reads its footers on
# the driver (local relation, zero Spark jobs) instead of a
# parallelized mapInPandas pass — each footer is a few KB, and the
# fixed job overhead (~0.1-0.3 s on this box) dwarfs the read
_LOCAL_STATS_MAX_FILES = 64


def _local_stats_rows(
    files: list[str], cols: list[str], base: str | None
):
    """Driver-side ``_footer_rows`` over a SMALL file list, or None
    when any file isn't locally readable (remote scheme) — callers
    fall back to the distributed footer scan."""
    paths = []
    for f in files:
        p = f
        if p.startswith("file:"):
            p = "/" + p.split(":", 1)[1].lstrip("/")
        if not os.path.isfile(p):
            return None
        paths.append(f)
    base_n = base.rstrip("/") if base else None
    try:
        out = []
        for f in paths:
            out.extend(_footer_rows(f, list(cols), base_n))
        return out
    except Exception:  # noqa: BLE001 — any failure → Spark fallback
        return None


def build_stats_manifest(
    spark: SparkSession, path: str, cols: list[str]
) -> DataFrame:
    """One manifest row per (file, column): min/max over the file's row
    groups (numeric columns), row count, and null presence. Footer
    reads happen executor-side via mapInPandas over the parallelized
    file list — metadata only, no data pages — except for small
    generations (≤ ``_LOCAL_STATS_MAX_FILES``), whose footers fold on
    the driver into a local relation with zero Spark jobs (the shape
    every per-commit stats build has). The listing is recursive, so
    Hive-partitioned layouts work: requested columns that are
    partition keys get rows from the path components."""
    files = list_parquet_files(path, spark)
    if not files:
        raise ValueError(f"no parquet files under {path}")
    base = _resolve_base(path, spark)
    if len(files) <= _LOCAL_STATS_MAX_FILES:
        rows = _local_stats_rows(files, cols, base)
        if rows is not None:
            from time_series_prediction_spark.operators.localrel import (
                local_rows_df,
            )

            # VALUES LocalRelation: manifest frames are re-evaluated
            # by every consumer action; the RDD form paid a Python
            # parallelize job each time
            return local_rows_df(spark, rows, _MANIFEST_SCHEMA)
    file_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 64))
    return _footer_stats(file_df, cols, base=base)


def local_manifest_table(vdir: str):
    """Driver-side pyarrow read of ONE committed manifest version.
    Manifests are metadata-sized by design (one part file since round
    9's coalesced commits), yet routing them through ``spark.read``
    put 2–4 Spark jobs of fixed scheduler overhead (~0.1–0.3 s each
    on this box: the ``.first()`` emptiness probe, the
    ``distinct().collect()`` file listing) in front of EVERY CoW
    table read — the systematic +0.3–0.8 s drift round 9's bench saw
    across the whole CoW query family. Reading the manifest where the
    scan planner lives (the driver) is also what every real table
    format does with its metadata.

    Returns a ``pyarrow.Table``, or ``None`` when the dir is not a
    locally readable parquet directory (remote scheme, unreadable
    parts) — callers MUST then fall back to the Spark read path, which
    stays correct on any filesystem."""
    p = vdir
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")
    if not os.path.isdir(p):
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = sorted(
            f for f in os.listdir(p) if f.endswith(".parquet")
        )
        if not parts:
            return None
        return pa.concat_tables(
            [pq.read_table(os.path.join(p, f)) for f in parts]
        )
    except Exception:  # noqa: BLE001 — any failure → Spark fallback
        return None


def local_manifest_files(vdir: str) -> list[str] | None:
    """Distinct committed file paths of one manifest version, read
    driver-side (``None`` → caller falls back to the Spark path).
    An EMPTY list is a real result: a DELETE that emptied the table
    commits a manifest referencing no files."""
    tbl = local_manifest_table(vdir)
    if tbl is None:
        return None
    return sorted(set(tbl.column("file").to_pylist()))


# sentinel: the dir is not locally readable — caller must use Spark
NOT_LOCAL = object()


def local_dv_table(vdir: str):
    """Driver-side pyarrow read of one version's ``_dv`` deletion
    vector: a pyarrow Table when the version carries one, None when it
    does not, or the ``NOT_LOCAL`` sentinel when the dir is not
    locally readable (non-file scheme / unreadable) — callers then
    keep the Spark read path. DVs are broadcast-sized by the format's
    own contract (compaction materializes them), so driver residency
    is the design point, not a risk."""
    p = vdir
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")
    if not os.path.isdir(p):
        return NOT_LOCAL
    dvdir = os.path.join(p, "_dv")
    if not os.path.exists(os.path.join(dvdir, "_SUCCESS")):
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        parts = sorted(
            f for f in os.listdir(dvdir) if f.endswith(".parquet")
        )
        return pa.concat_tables(
            [pq.read_table(os.path.join(dvdir, f)) for f in parts]
        )
    except Exception:  # noqa: BLE001
        return NOT_LOCAL


def local_dv_count(vdir: str) -> int | None:
    """Row count of the version's deletion vector from parquet FOOTER
    metadata only (no data read); 0 when the version carries no DV,
    ``None`` when the dir isn't locally readable."""
    p = vdir
    if p.startswith("file:"):
        p = "/" + p.split(":", 1)[1].lstrip("/")
    if not os.path.isdir(p):
        return None
    dvdir = os.path.join(p, "_dv")
    if not os.path.exists(os.path.join(dvdir, "_SUCCESS")):
        return 0
    try:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(dvdir, f)).metadata.num_rows
            for f in os.listdir(dvdir)
            if f.endswith(".parquet")
        )
    except Exception:  # noqa: BLE001
        return None


def prune_files(
    manifest: DataFrame, predicates: dict[str, tuple[object, object]]
) -> list[str]:
    """Files that might contain rows matching ALL [lo, hi] range
    predicates: a file survives unless some predicate column's stats
    EXCLUDE the range (stats-missing columns keep the file — skipping
    is only ever an optimization). String bounds (``lo`` a ``str``)
    test against the typed ``vmin_s/vmax_s`` stats, numeric bounds
    against ``vmin/vmax``. The collect is file PATHS after pruning —
    the same driver-side list any format's scan planner
    materializes."""
    if not predicates:
        return [r["file"] for r in manifest.select("file").distinct().collect()]
    excluded = None
    for c, (lo, hi) in predicates.items():
        vmin, vmax = (
            ("vmin_s", "vmax_s") if isinstance(lo, str) else ("vmin", "vmax")
        )
        miss = (
            (F.col("col") == c)
            & F.col(vmin).isNotNull()
            & ~F.col("has_nulls")
            & ((F.col(vmax) < F.lit(lo)) | (F.col(vmin) > F.lit(hi)))
        )
        excluded = miss if excluded is None else (excluded | miss)
    bad = manifest.where(excluded).select("file").distinct()
    keep = (
        manifest.select("file")
        .distinct()
        .join(bad, "file", "left_anti")
        .collect()
    )
    return sorted(r["file"] for r in keep)


def pruned_scan(
    spark: SparkSession,
    manifest: DataFrame,
    predicates: dict[str, tuple[float, float]],
    base_path: str | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Scan only the files the manifest cannot rule out, then re-apply
    the exact predicate — identical results to the full scan, touching
    a subset of files. A consistent range predicate that lies entirely
    outside the data domain (e.g. x in [250, 300] when max(x)=199)
    legitimately prunes EVERY file; in that case we return an
    empty-but-typed frame by reading the schema of one manifest file
    under a false filter, so callers see the same (empty) result the
    full scan would produce.

    ``base_path`` (the table root) makes Hive-partitioned layouts
    work: Spark's ``basePath`` option re-derives the partition
    columns from the leaf-file paths, so the pruned scan's schema
    matches the full table's. ``merge_schema`` unions file
    schemas (for schema-evolved cow tables) instead of sampling one
    file's."""
    files = prune_files(manifest, predicates)
    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    if merge_schema:
        # schema-evolved tables: files written before a column existed
        # must still contribute rows (the column reads as null)
        reader = reader.option("mergeSchema", "true")
    if not files:
        any_file = manifest.select("file").first()
        if any_file is None:
            raise ValueError("empty manifest — build it first")
        return reader.parquet(any_file["file"]).where(F.lit(False))
    df = reader.parquet(*files)
    for c, (lo, hi) in predicates.items():
        df = df.where((F.col(c) >= lo) & (F.col(c) <= hi))
    return df
