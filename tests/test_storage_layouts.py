"""Storage-layout tests: partition pruning, bucketed co-located joins,
CSV/JSON sources — the physical-layout levers for 100 TB scans."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.sources.io import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes_scans(spark, sf_dir, tmp_path):
    ev = read_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = str(tmp_path / "events_by_day")
    ev.write.mode("overwrite").partitionBy("day").parquet(out)
    back = spark.read.parquet(out).where(F.col("day") == "2024-01-05")
    plan = _plan(back)
    # partition filter present -> non-matching directories never read
    assert "PartitionFilters: [isnotnull(day" in plan
    n = back.count()
    want = ev.where(F.col("day") == "2024-01-05").count()
    assert n == want > 0


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    import shutil

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # the warehouse dir outlives the session's in-memory catalog: a
    # stale location would fail saveAsTable even after DROP TABLE
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable("b_orders")
    )
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable("b_lineitem")
    )
    a = spark.table("b_lineitem")
    b = spark.table("b_orders")
    joined = a.join(
        b.hint("merge"), a.l_orderkey == b.o_orderkey
    ).groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(joined)
    # co-located buckets: the join itself needs NO exchange — only the
    # final aggregation exchanges
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan
    assert joined.count() == 5


def test_csv_and_json_sources_roundtrip(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    csv_path = str(tmp_path / "nation_csv")
    json_path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").option("header", True).csv(csv_path)
    nation.write.mode("overwrite").json(json_path)

    csv_back = spark.read.csv(
        csv_path, header=True, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    json_back = spark.read.json(
        json_path, schema="n_nationkey int, n_name string, n_regionkey int"
    )
    assert csv_back.count() == json_back.count() == nation.count()
    want = {r["n_nationkey"]: r["n_name"] for r in nation.collect()}
    assert {r["n_nationkey"]: r["n_name"] for r in csv_back.collect()} == want
    assert {r["n_nationkey"]: r["n_name"] for r in json_back.collect()} == want


def test_delta_roundtrip_when_available(spark, sf_dir, tmp_path):
    """read_delta(write_delta_log(df)) is identity: through the real
    delta-spark reader whenever its jars are present, otherwise
    through the native log reader."""
    import os

    from time_series_prediction_spark.sources.deltalog import (
        read_delta,
        write_delta_log,
    )

    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_delta")
    write_delta_log(nation, path)
    assert os.path.isdir(os.path.join(path, "_delta_log"))
    back = read_delta(spark, path)
    assert back.count() == nation.count()
    assert {r["n_nationkey"] for r in back.collect()} == {
        r["n_nationkey"] for r in nation.collect()
    }


def test_bloom_index_prunes_and_stays_exact(spark, sf_dir):
    """The data-skipping contract: (a) a key lookup on the
    date-ordered layout scans at most ~K + fp files, never all of
    them (min/max stats would prune NOTHING here — every file spans
    the whole key range); (b) the pruned result equals the unpruned
    filter exactly (false positives cost reads, never rows); (c) a
    key absent from the table prunes to few-to-zero files."""
    from time_series_prediction_spark.operators.bloomindex import (
        bloom_may_contain_files,
    )
    from time_series_prediction_spark.operators.manifest import (
        list_parquet_files,
    )
    from time_series_prediction_spark.plans.layout_queries import (
        _BLOOM_SEED,
        _LOOKUP_KEYS,
        orders_bloom_layout,
        orders_bloom_point_lookup,
    )

    path, bits = orders_bloom_layout(spark, sf_dir)
    n_files = len(list_parquet_files(path, spark))
    idx = spark.read.parquet(path + "/_bloomidx")
    present = [k for k in _LOOKUP_KEYS if k < 1500]  # sf0.001 keyspace
    mc = bloom_may_contain_files(spark, idx, present, bits, seed=_BLOOM_SEED)
    assert 0 < len(mc) < n_files, (len(mc), n_files)
    # absent key: expected fp ~ n_files * fpp ≈ 0
    mc_absent = bloom_may_contain_files(
        spark, idx, [987654321], bits, seed=_BLOOM_SEED
    )
    assert len(mc_absent) <= max(1, n_files // 8)
    got = {
        (r["o_orderkey"], r["o_custkey"], r["total_c"])
        for r in orders_bloom_point_lookup(spark, sf_dir).collect()
    }
    want = {
        (
            r["o_orderkey"],
            r["o_custkey"],
            int(round(r["o_totalprice"] * 100)),
        )
        for r in read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isin(_LOOKUP_KEYS))
        .collect()
    }
    assert got == want and len(got) > 0


@pytest.fixture()
def tmp_path():
    with tempfile.TemporaryDirectory() as d:
        import pathlib

        yield pathlib.Path(d)


def test_bloom_probe_cap_fallback_identical(spark, sf_dir):
    """r15 cap-with-fallback (VERDICT r14 Next #5): the driver-side
    bloom probe pulls at most cap+1 index rows; with the driver path
    disabled (cap=0) the distributed probe returns the identical
    may-contain file list for both present and absent keys."""
    from time_series_prediction_spark.operators.bloomindex import (
        DRIVER_FILE_CAP_CONF,
        bloom_may_contain_files,
    )
    from time_series_prediction_spark.plans.layout_queries import (
        _BLOOM_SEED,
        _LOOKUP_KEYS,
        orders_bloom_layout,
    )

    path, bits = orders_bloom_layout(spark, sf_dir)
    idx = spark.read.parquet(path + "/_bloomidx")
    panels = [
        [k for k in _LOOKUP_KEYS if k < 1500] or _LOOKUP_KEYS,
        [987654321],
        ["s1", "s2"],  # string keys exercise the JVM-hash branch
    ]
    for keys in panels:
        fast = bloom_may_contain_files(
            spark, idx, keys, bits, seed=_BLOOM_SEED
        )
        spark.conf.set(DRIVER_FILE_CAP_CONF, "0")
        try:
            slow = bloom_may_contain_files(
                spark, idx, keys, bits, seed=_BLOOM_SEED
            )
        finally:
            spark.conf.unset(DRIVER_FILE_CAP_CONF)
        assert fast == slow, keys
