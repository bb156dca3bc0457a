"""IO layer: scans and sinks.

Covers the reference's source/sink inventory (SURVEY §2.1):
  S1 integer-range source         -> spark.range, called directly by
                                     ``generate.generate_series_frame``
  S2 date-sequence source         -> F.sequence column expression (no
                                     1-row-DF crossJoin; reference
                                     ``src/demo/create_time_series.py:193-195``)
  S3 Parquet scan / S6 sink       -> spark.read.parquet / df.write.parquet
  S4 Delta scan / S7 sink         -> ``sources/deltalog.read_delta``
                                     (delta-spark when its jars are
                                     present, else the native log) and
                                     ``deltalog.write_delta_log``
  S5 JSON config scan / S8 managed-table sink -> not implemented: no
                                     lifecycle step uses them
  S9 driver collect               -> built-in (toPandas/show/count)

``read_table`` loads the driver-generated fixture tables
(``<sf_dir>/<name>.parquet``).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_prediction_spark.session_memo import session_memo

# Plan-object memos for parquet scans (guide §5: driver overhead off
# the query path). Every spark.read.parquet call resolves the
# DataSource and runs a one-task Spark job to infer the schema from a
# parquet footer (SchemaMergeUtils.mergeSchemasInParallel, even for one
# file): about 0.10 s per call on a 4-core VM, for a DataFrame that is
# immutable and freely reusable. No SQL conf skips that job. A bench
# pass issues ~190 read_table calls over 10 distinct tables; a
# perfbench serve unit reads its one table once. Both memos key on the
# path and the mtime_ns and size of the file, or of every file under a
# directory, and are guarded on session identity. No DATA is cached —
# the memo holds the analyzed plan handle only, every action still
# scans the files, and bench.py and perfbench's query_mix clear it at
# every pass boundary like all session memos, so each timed pass still
# pays one first-touch inference per table. A memoized plan keeps the
# schema inferred under the session conf of its first read.
_READ_PARQUET_MEMO: dict = session_memo({})
_READ_TABLE_MEMO: dict = session_memo({})


def _tree_stats(path: str) -> tuple:
    """(relative path, mtime_ns, size) of every file under ``path``."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


def _memoized(memo: dict, spark: SparkSession, path: str, build) -> DataFrame:
    """``build()``'s DataFrame, reused while ``path`` is unchanged.

    A directory dataset folds per-file stats into the key: a part file
    rewritten in place leaves the directory's own mtime/size unchanged
    (ADVICE r14), down through partition subdirectories. A path that
    cannot be stat'ed (a glob, a remote URI) is not memoized."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            key = (path, _tree_stats(path))
        else:
            key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return build()
    hit = memo.get(key)
    # `is spark` guards cross-session reuse: a DataFrame is bound to the
    # session that planned it. The memo value keeps a strong reference
    # to that session, so the identity check cannot alias a recycled
    # object id.
    if hit is not None:
        if hit[0] is spark:
            return hit[1]
        # stale entry from another (possibly stopped) session: evict so
        # dead sessions aren't pinned for process lifetime (ADVICE r14)
        del memo[key]
    df = build()
    memo[key] = (spark, df)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S3). Column pruning + predicate pushdown come free
    as long as downstream operators stay in native expressions. Repeat
    calls on unchanged files return the memoized plan (see above)."""
    return _memoized(
        _READ_PARQUET_MEMO, spark, path, lambda: spark.read.parquet(path)
    )


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, e.g. read_table(spark, '/root/testdata/sf0.01', 'lineitem').

    The events table's ``ts`` encoding has varied across fixture
    generations, and BOTH forms are normalized here to a plain UTC
    timestamp so downstream code never branches:

    * parquet TIMESTAMP(NANOS) — Spark reads it only as a raw long
      (``spark.sql.legacy.parquet.nanosAsLong``); converted via exact
      integer ns→us division (DuckDB truncates identically, keeping
      oracle comparisons exact).
    * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — reads as
      TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ; with the
      session pinned to UTC the NTZ→TZ cast is a bit-identical
      reinterpretation matching DuckDB's naive TIMESTAMP.

    The nanos conf is self-provisioned here (it is runtime-settable SQL
    conf, not a Spark-core conf) so read_table works on ANY SparkSession —
    including vanilla ones the engine didn't build. Relying on session.py
    defaults alone broke every events read on external harness sessions.
    Both confs are set on every call, memo hit or miss: a hit returns a
    plan whose timestamp semantics assume a UTC session, and the session
    zone may have been changed since the plan was memoized.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Self-provision UTC alongside the nanos conf: external vanilla
    # sessions inherit the host timezone, and date bucketing
    # (to_date/datediff over events.ts) must agree with the tz-naive
    # DuckDB oracle (CAST(ts AS DATE)) regardless of host locale.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if name == "events" and ts_type == "bigint":
            # integer division — float division loses microsecond
            # precision on ~1.7e18 nanosecond epoch values (double has a
            # 53-bit mantissa)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if name == "events" and ts_type == "timestamp_ntz":
            # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
            # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default,
            # which unix_micros/to_utc_timestamp reject. The session
            # timezone is pinned UTC above, so the NTZ→TZ cast is a pure
            # reinterpretation (bit-identical instant) and matches
            # DuckDB's naive TIMESTAMP.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df

    return _memoized(_READ_TABLE_MEMO, spark, path, build)


def date_sequence_col(start: dt.date | str, end: dt.date | str) -> F.Column:
    """S2: shared date-axis as a column expression.

    The reference builds a single-row DataFrame from
    ``SELECT sequence(to_date(..), to_date(..), interval 1 day)`` and
    crossJoins it onto every series row
    (``src/demo/create_time_series.py:193-195``). A literal sequence
    expression computes the identical array with no join at all —
    constant-folded by Catalyst, zero shuffle at any scale.
    """
    return F.sequence(
        F.lit(str(start)).cast("date"),
        F.lit(str(end)).cast("date"),
        F.expr("interval 1 day"),
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S6: parquet sink (reference ``src/demo/create_time_series.py:210``)."""
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink — the 100 TB layout: partition pruning on
    ``partition_cols`` turns full scans into directory-level skips."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
