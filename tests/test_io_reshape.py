"""Smoke tests for sources/io.py and operators/reshape.py."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from time_series_prediction_spark.operators.reshape import long_to_wide
from time_series_prediction_spark.sources.io import (
    date_sequence_col,
    read_table,
)


def test_read_fixture_tables(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    assert li.count() > 1000
    assert "l_quantity" in li.columns


def test_date_sequence_col(spark):
    df = spark.range(3).withColumn(
        "transactiondate", date_sequence_col("2018-12-01", "2020-03-31")
    )
    row = df.select(F.size("transactiondate").alias("n")).first()
    assert row["n"] == 487
    first = df.select(F.element_at("transactiondate", 1).alias("d")).first()
    assert first["d"] == dt.date(2018, 12, 1)


def test_wide_long_roundtrip(spark):
    wide = (
        spark.range(5)
        .toDF("primaryaccountholder")
        .withColumn("transactiondate", date_sequence_col("2020-01-01", "2020-01-10"))
        .withColumn(
            "balance",
            F.transform(
                F.sequence(F.lit(1), F.lit(10)),
                lambda i: (i + F.col("primaryaccountholder")).cast("float"),
            ),
        )
    )
    long_df = wide.select(
        "primaryaccountholder",
        F.explode(F.arrays_zip("transactiondate", "balance")).alias("z"),
    ).select(
        "primaryaccountholder",
        F.col("z.transactiondate").alias("ds"),
        F.col("z.balance").cast("double").alias("value"),
    )
    assert long_df.count() == 50

    back = long_to_wide(long_df)
    orig = wide.select(
        "primaryaccountholder", "transactiondate", F.col("balance")
    ).orderBy("primaryaccountholder")
    rt = back.orderBy("primaryaccountholder")
    assert [r.asDict() for r in rt.collect()] == [r.asDict() for r in orig.collect()]


def test_tz_for_zone_id_offsets_and_regions():
    """Session-timezone rendering for delta-spark timestampAsOf must
    accept every zone-id shape Spark does: region ids through
    ZoneInfo, offset-style ids ('GMT+08:00', '+08:00', 'UTC+8')
    through a parsed fixed offset — ZoneInfo raises KeyError on those
    and time travel crashed (round-10 ADVICE, low)."""
    import datetime as dt

    from time_series_prediction_spark.sources.deltalog import _tz_for_zone_id

    probe = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    assert _tz_for_zone_id("UTC").utcoffset(probe) == dt.timedelta(0)
    assert _tz_for_zone_id("Asia/Tokyo").utcoffset(
        probe
    ) == dt.timedelta(hours=9)
    for zid in ("GMT+08:00", "+08:00", "UTC+8", "GMT+0800"):
        assert _tz_for_zone_id(zid).utcoffset(probe) == dt.timedelta(
            hours=8
        ), zid
    assert _tz_for_zone_id("GMT-05:30").utcoffset(probe) == -dt.timedelta(
        hours=5, minutes=30
    )
    # unparseable id: documented UTC fallback, never a crash
    assert _tz_for_zone_id("bogus/zone").utcoffset(probe) == dt.timedelta(0)


def test_read_table_memo_hit_repins_utc(spark, sf_dir):
    """A memo hit must re-pin the session to UTC like a miss does:
    the memoized events plan buckets ``to_date(ts)`` in the session
    zone, and the DuckDB oracles bucket in UTC."""
    key = "spark.sql.session.timeZone"
    first = read_table(spark, sf_dir, "events")
    spark.conf.set(key, "America/New_York")
    try:
        again = read_table(spark, sf_dir, "events")
        assert again is first  # the memo hit path
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, "UTC")


def test_read_table_plan_memo(spark, sf_dir, tmp_path):
    """read_table memoizes the analyzed plan per (session, path, mtime):
    repeat calls return the same DataFrame object, the bench-boundary
    memo reset drops it, and a rewritten table invalidates the entry."""
    import shutil

    from time_series_prediction_spark.session_memo import clear_session_memos

    a = read_table(spark, sf_dir, "region")
    b = read_table(spark, sf_dir, "region")
    assert a is b  # memo hit within a session

    clear_session_memos()
    c = read_table(spark, sf_dir, "region")
    assert c is not a  # pass boundary pays first-touch again
    assert c.count() == a.count()

    # a rewrite (new mtime/size) must invalidate, not serve stale plans
    src = f"{sf_dir}/region.parquet"
    dst_dir = tmp_path / "sfcopy"
    dst_dir.mkdir()
    dst = dst_dir / "region.parquet"
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    d1 = read_table(spark, str(dst_dir), "region")
    n1 = d1.count()
    sub = d1.limit(max(n1 - 1, 1))
    # under tmp_path, not a fixed /tmp name (ADVICE r14: fixed paths
    # collide under parallel test runs and leave litter on failure)
    sub_path = str(tmp_path / "_region_sub.parquet")
    sub.toPandas().to_parquet(sub_path)
    shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
    shutil.copy(sub_path, dst)
    os.utime(dst, ns=(os.stat(dst).st_mtime_ns + 10**9,) * 2)
    d2 = read_table(spark, str(dst_dir), "region")
    assert d2 is not d1
    assert d2.count() == max(n1 - 1, 1)


def test_read_table_memo_directory_part_rewrite_invalidates(
    spark, sf_dir, tmp_path
):
    """Directory datasets (ADVICE r14): an in-place part-file rewrite
    leaves the directory's own mtime/size unchanged, so the memo key
    folds per-entry stats — touching one part file must invalidate."""
    src_dir = tmp_path / "dirds"
    src_dir.mkdir()
    region = read_table(spark, sf_dir, "region")
    region.coalesce(1).write.parquet(str(src_dir / "region.parquet"))
    d1 = read_table(spark, str(src_dir), "region")
    assert read_table(spark, str(src_dir), "region") is d1  # memo hit
    part = next(
        p
        for p in (src_dir / "region.parquet").iterdir()
        if p.name.endswith(".parquet")
    )
    os.utime(part, ns=(os.stat(part).st_mtime_ns + 10**9,) * 2)
    d2 = read_table(spark, str(src_dir), "region")
    assert d2 is not d1  # key changed -> fresh plan


def test_read_table_memo_sees_files_in_partition_subdirs(spark, tmp_path):
    """A partitioned directory dataset with no ``_SUCCESS`` marker keeps
    every part file in a subdirectory: a part file added inside an
    existing partition must invalidate the memo, or the second read
    returns the old row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "t.parquet"
    pq.write_to_dataset(
        pa.table({"p": [1, 1, 2], "x": [1.0, 2.0, 3.0]}),
        str(root),
        partition_cols=["p"],
    )
    assert not any(e.is_file() for e in root.iterdir())
    assert read_table(spark, str(tmp_path), "t").count() == 3
    pq.write_table(
        pa.table({"x": [4.0, 5.0]}), str(root / "p=1" / "extra.parquet")
    )
    assert read_table(spark, str(tmp_path), "t").count() == 5


def test_read_table_memo_evicts_foreign_session_entries(spark, sf_dir):
    """ADVICE r14: a memo entry whose owning session is not the caller
    is EVICTED on probe (not just skipped), so stopped sessions don't
    stay pinned for process lifetime."""
    from time_series_prediction_spark.sources.io import _READ_TABLE_MEMO

    d1 = read_table(spark, sf_dir, "region")
    key = next(
        k for k, v in _READ_TABLE_MEMO.items() if v[1] is d1
    )
    _READ_TABLE_MEMO[key] = (object(), d1)  # simulate a dead session
    d2 = read_table(spark, sf_dir, "region")
    assert d2 is not d1
    assert _READ_TABLE_MEMO[key][0] is spark  # rebuilt, not pinned
