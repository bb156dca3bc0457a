"""IO layer: scans and sinks.

Covers the reference's source/sink inventory (SURVEY §2.1):
  S1 integer-range source         -> spark.range, called directly by
                                     ``generate.generate_series_frame``
  S2 date-sequence source         -> F.sequence column expression (no
                                     1-row-DF crossJoin; reference
                                     ``src/demo/create_time_series.py:193-195``)
  S3 Parquet scan / S6 sink       -> spark.read.parquet / df.write.parquet
  S4 Delta scan / S7 sink         -> optional: falls back to parquet when
                                     delta-spark jars are absent
  S5 JSON config scan / S8 managed-table sink -> not implemented: no
                                     lifecycle step uses them
  S9 driver collect               -> built-in (toPandas/show/count)

Also the engine's fixture-table registry for the driver-generated
TPC-H-ish tables under /root/testdata/sf*/.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from time_series_prediction_spark.session_memo import session_memo

# Plan-object memo for fixture-table scans (guide §5: driver overhead
# off the query path). A bench pass issues ~190 read_table calls over
# 10 distinct tables, and every spark.read.parquet call pays
# ~110-160 ms of driver-side DataSource resolution + footer schema
# inference for a DataFrame that is immutable and freely reusable.
# Keyed on (path, mtime_ns, size) and guarded on session identity; no
# DATA is cached — this memoizes the analyzed plan handle only, and
# bench.py clears it at every pass boundary like all session memos,
# so each timed pass still pays one first-touch inference per table.
_READ_TABLE_MEMO: dict = session_memo({})

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S3). Column pruning + predicate pushdown come free
    as long as downstream operators stay in native expressions."""
    return spark.read.parquet(path)


def _tree_stats(path: str) -> tuple:
    """(relative path, mtime_ns, size) of every file under ``path``."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_mtime_ns, st.st_size))
    return tuple(sorted(out))


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
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # directory dataset (ADVICE r14): a part file rewritten in
            # place leaves the directory's own mtime/size unchanged —
            # fold per-file stats into the key so that invalidates too,
            # down through partition subdirectories
            key = (path, _tree_stats(path))
        else:
            key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None:
        hit = _READ_TABLE_MEMO.get(key)
        # `is spark` guards cross-session reuse: a DataFrame is bound
        # to the session that planned it. The memo value keeps a strong
        # reference to that session, so the identity check cannot alias
        # a recycled object id.
        if hit is not None:
            if hit[0] is spark:
                return hit[1]
            # stale entry from another (possibly stopped) session:
            # evict so dead sessions aren't pinned for process
            # lifetime (ADVICE r14)
            del _READ_TABLE_MEMO[key]
    df = spark.read.parquet(path)
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # integer division — float division loses microsecond precision
        # on ~1.7e18 nanosecond epoch values (double has 53-bit mantissa)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as
        # TIMESTAMP_NTZ under Spark 4's inferTimestampNTZ default, which
        # unix_micros/to_utc_timestamp reject. The session timezone is
        # pinned UTC above, so the NTZ→TZ cast is a pure reinterpretation
        # (bit-identical instant) and matches DuckDB's naive TIMESTAMP.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        _READ_TABLE_MEMO[key] = (spark, df)
    return df


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


def _delta_available(spark: SparkSession) -> bool:
    # NB: attribute access on spark._jvm is lazy (py4j returns a
    # JavaPackage without touching the JVM), so probing an attribute
    # never raises — resolve the class by name instead.
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.delta.DeltaLog"
        )
        return True
    except Exception:
        return False


def _tz_for_zone_id(zone_id: str):
    """tzinfo for a Spark session-timezone id. Spark accepts BOTH
    region ids ('Asia/Tokyo') and offset-style ids ('GMT+08:00',
    '+08:00', 'UTC+8') — ZoneInfo raises KeyError on the latter, so
    fall back to parsing the fixed offset ourselves; last resort is
    UTC (better a documented default than a crashed time travel)."""
    import datetime as _dt

    try:
        import zoneinfo as _zi

        return _zi.ZoneInfo(zone_id)
    except Exception:  # noqa: BLE001 — offset-style ids
        import re as _re

        m = _re.fullmatch(
            r"(?:GMT|UTC|UT)?\s*([+-])(\d{1,2})"
            r"(?::?(\d{2}))?(?::?(\d{2}))?",
            zone_id.strip(),
        )
        if m:
            sgn = 1 if m.group(1) == "+" else -1
            return _dt.timezone(
                sgn
                * _dt.timedelta(
                    hours=int(m.group(2)),
                    minutes=int(m.group(3) or 0),
                    seconds=int(m.group(4) or 0),
                )
            )
        return _dt.timezone.utc


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """S4: Delta scan (reference ``src/demo/training.py:158``).

    Resolution order: the real delta-spark reader when its jars are
    present; otherwise the NATIVE transaction-log reader
    (``sources/deltalog.py`` — reconstructs the snapshot from
    ``_delta_log`` per the published protocol, so removed-but-not-
    vacuumed files are correctly excluded and ``version`` gives
    time travel); plain parquet only when the directory carries no
    Delta log at all. The old parquet-only fallback was silently
    WRONG on a real Delta table (it read tombstoned files)."""
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version OR timestamp_ms, not both")
    if _delta_available(spark):
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", str(version))
        if timestamp_ms is not None:
            import datetime as _dt

            # delta-spark parses this string in the SESSION timezone;
            # a bare UTC wall-clock string time-travelled to the wrong
            # instant on any non-UTC session (while the native path
            # below uses epoch ms correctly) — keep both paths on the
            # same instant by rendering in the session zone
            tz = _tz_for_zone_id(
                spark.conf.get("spark.sql.session.timeZone")
            )
            reader = reader.option(
                "timestampAsOf",
                _dt.datetime.fromtimestamp(
                    timestamp_ms / 1000.0, tz=tz
                ).strftime("%Y-%m-%d %H:%M:%S"),
            )
        return reader.load(path)
    from time_series_prediction_spark.sources.deltalog import (
        DeltaProtocolUnsupported,
        has_delta_log,
        is_delta_table,
        read_delta_log,
        version_at_timestamp,
    )

    if is_delta_table(spark, path):
        if timestamp_ms is not None:
            version = version_at_timestamp(spark, path, timestamp_ms)
        return read_delta_log(spark, path, version=version)
    if has_delta_log(spark, path):
        # the _delta_log exists but holds no classic commit/checkpoint
        # chain this reader can replay (multi-part or v2/UUID
        # checkpoints after log cleanup). It IS a Delta table — a
        # plain-parquet fallback here would silently include
        # tombstoned files, the exact wrong answer deltalog.py exists
        # to prevent.
        raise DeltaProtocolUnsupported(
            f"{path} carries a _delta_log this native reader cannot "
            "replay (no classic <v>.json / <v>.checkpoint.parquet "
            "chain — likely multi-part or v2 checkpoints); install "
            "delta-spark to read it"
        )
    if version is not None:
        raise ValueError(
            f"{path} is not a Delta table — no time travel on plain "
            "parquet"
        )
    return spark.read.parquet(path)


def write_delta(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S7: Delta sink (reference
    ``notebooks/training_new_petastorm.py:182``): the real delta-spark
    writer when its jars are present, otherwise the NATIVE
    transaction-log writer (``sources/deltalog.write_delta_log``) —
    parquet data plus a protocol-1 ``_delta_log`` commit, readable by
    any Delta reader (and by ``read_delta``'s log-aware path, so an
    overwrite correctly hides the previous generation instead of
    double-counting it the way the old parquet fallback did)."""
    if _delta_available(df.sparkSession):
        df.write.format("delta").mode(mode).save(path)
    else:
        from time_series_prediction_spark.sources.deltalog import (
            write_delta_log,
        )

        write_delta_log(df, path, mode=mode)
