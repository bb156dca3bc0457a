"""SparkSession factory.

The reference hand-tunes ``spark.sql.shuffle.partitions=1000`` and
``spark.default.parallelism=1000`` for its 2.5M-row serving path
(reference ``notebooks/scoring.py:81-86``) and enables Arrow transfer
(reference ``src/demo/create_time_series.py:33-34``). We instead leave
Adaptive Query Execution on so Spark right-sizes shuffles at runtime,
and pin the session timezone to UTC so results compare bit-for-bit
against external oracles (DuckDB timestamps are UTC-naive).

At cluster scale the same settings hold: AQE coalesces post-shuffle
partitions, handles skewed joins, and converts sort-merge joins to
broadcast when the runtime size drops under the threshold — all
decisions that static configs get wrong at 100 TB.

Two defaults exist only for speed; neither can change a result.

* ``spark.sql.codegen.cache.maxEntries`` is 4,000, not Spark's 100.
  Spark keys its cache of compiled generated classes on the generated
  source. One pass of perfbench's 30-query ``query_mix`` generates
  328-374 distinct classes, and a pass of the whole 207-query registry
  at sf0.01 generates 1,952. At 100 entries a repeated pass evicts
  every class before its next use: ``CodegenMetrics`` counted 340-361
  compilations per warm ``query_mix`` pass (4-core VM), each a fresh
  Janino compile whose class then runs un-JITted. With the larger cache
  a warm pass compiles 0 classes, and 4,000 holds the registry's set
  twice over. Evicted classes were never unloaded at 100 entries, so
  the larger cache costs no memory: after three mix passes metaspace
  read 183 MB at 100 against 178 MB here.
* ``spark.python.sql.dataFrameDebugging.enabled`` is off. When on (the
  PySpark 4.1 default), every DataFrame or Column call walks the Python
  stack and makes about four py4j calls to record a call site that
  Spark shows only in ANSI runtime errors, and this session turns ANSI
  off. Off, a warm ``query_mix`` pass built its 30 plans in 2.5-2.8 s
  against 3.2-3.7 s on (same cache size). Analysis errors still name
  the missing column.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

if sys.version_info < (3, 12):
    # PySpark's worker calls importlib.invalidate_caches() before every
    # task (worker_util.setup_spark_files). On CPython 3.11 that makes
    # each zipimporter in sys.path_importer_cache re-parse its archive's
    # whole directory. A worker holds one per imported subpackage of
    # pyspark.zip (13-14 re-reads of a 1,328-entry directory) plus the
    # py4j zip and the spark-core jar: 0.15-0.35 s per task on a 4-core
    # VM. CPython 3.12 made the call lazy (gh-103200). Here an archive
    # whose (inode, size, mtime) still matches its last read adopts that
    # read, so a task pays one stat per importer. The patch lands when a
    # worker first imports this package: a fresh worker's first task
    # still pays the full re-read, its second one read per archive.
    _ZIP_DIRECTORIES: dict[str, tuple[tuple[int, int, int], dict]] = {}
    _reread_zip_directory = zipimport.zipimporter.invalidate_caches

    def _invalidate_zip_if_changed(self) -> None:
        """``zipimporter.invalidate_caches`` that re-reads the archive only
        if it was rewritten, resized or replaced since its last read. A
        missing or unreadable archive still empties the importer."""
        try:
            st = os.stat(self.archive)
            stat = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stat = None
        seen = _ZIP_DIRECTORIES.get(self.archive)
        if stat is not None and seen is not None and seen[0] == stat:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        _reread_zip_directory(self)
        # the stdlib method drops the archive from the cache when the
        # read fails; remember only successful reads
        if stat is not None and self.archive in zipimport._zip_directory_cache:
            _ZIP_DIRECTORIES[self.archive] = (stat, self._files)
        else:
            _ZIP_DIRECTORIES.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed

_DEFAULTS = {
    # Arrow: vectorized JVM<->Python transfer for pandas_udf / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime re-planning (partition coalescing, skew-join handling,
    # dynamic broadcast conversion). Preferred over hand-set partitions.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic timestamp semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: reference relies on permissive casts/NaN arithmetic.
    "spark.sql.ansi.enabled": "false",
    # The fixture events table stores TIMESTAMP(NANOS) which Spark's
    # parquet reader rejects; read as long and convert in io.read_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Bucketed tables written by operators/bucketing.py are always
    # sortBy(bucket_col) with one file per bucket, so reporting the
    # write-time sort order is safe and elides both SMJ sorts; Spark
    # 3+ gates it behind this flag because a multi-file bucket would
    # need a merge-read (a shape ensure_bucketed never produces).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Generated-class cache sized to the engine's working set: a warm
    # query_mix pass recompiled 340-361 classes at Spark's 100 entries
    # and compiles 0 here; a registry pass at sf0.01 generates 1,952.
    "spark.sql.codegen.cache.maxEntries": "4000",
    # No Python call-site capture: it costs four py4j calls per
    # DataFrame/Column call to annotate ANSI errors, and ANSI is off.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "time_series_prediction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver contract) or all cores. On a real
    cluster, pass ``master=None`` with an externally-managed session or
    set the master explicitly; every engine operator only assumes the
    DataFrame API, never local mode.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        # Local default: ~cores, not Spark's 200 (over-parallelized for
        # test scale). AQE coalesces further as needed.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        try:
            conf["spark.sql.shuffle.partitions"] = str(max(int(cpus), 4))
        except ValueError:
            conf["spark.sql.shuffle.partitions"] = "32"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
