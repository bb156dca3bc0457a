"""File-stats manifest: footer-only stats, correct pruning, and
result equality with the unpruned scan (z-ordered and baseline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.manifest import (
    build_stats_manifest,
    list_parquet_files,
    prune_files,
    pruned_scan,
)
from time_series_prediction_spark.operators.zorder import write_zordered


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("manifest")
    grid = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    zpath = str(base / "zordered")
    write_zordered(grid, zpath, ["x", "y"], n_files=16)
    return zpath, grid


def test_manifest_stats_match_footers(spark, layout):
    zpath, grid = layout
    man = build_stats_manifest(spark, zpath, ["x", "y", "payload"]).cache()
    rows = man.collect()
    files = list_parquet_files(zpath)
    assert {r["file"] for r in rows} == set(files)
    # every (file, col) present; totals add up to the table
    per_file = {(r["file"], r["col"]): r for r in rows}
    assert len(per_file) == len(files) * 3
    total = sum(
        r["n_rows"] for r in rows if r["col"] == "x"
    )
    assert total == grid.count()
    # manifest mins/maxes bound the global domain
    xs = [r for r in rows if r["col"] == "x"]
    assert min(r["vmin"] for r in xs) == 0.0
    assert max(r["vmax"] for r in xs) == 199.0
    man.unpersist()


def test_pruned_scan_equals_full_scan(spark, layout):
    zpath, grid = layout
    man = build_stats_manifest(spark, zpath, ["x", "y"]).cache()
    preds = {"x": (10.0, 22.0), "y": (30.0, 80.0)}
    kept = prune_files(man, preds)
    assert 0 < len(kept) < len(list_parquet_files(zpath)), (
        "manifest pruned nothing on a z-ordered layout"
    )
    got = (
        pruned_scan(spark, man, preds)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload").alias("s"),
        )
        .first()
    )
    want = (
        spark.read.parquet(zpath)
        .where(F.col("x").between(10, 22) & F.col("y").between(30, 80))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("payload").alias("s"),
        )
        .first()
    )
    assert (got["n"], got["s"]) == (want["n"], want["s"])
    assert got["n"] > 0
    man.unpersist()


def test_prune_keeps_stat_less_columns(spark, layout):
    """A predicate on a column absent from the manifest must not prune
    anything (skipping is an optimization, never a filter)."""
    zpath, _ = layout
    man = build_stats_manifest(spark, zpath, ["x"])
    kept = prune_files(man, {"payload": (0.0, 1.0)})
    assert set(kept) == set(list_parquet_files(zpath))


def test_empty_dir_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no parquet files"):
        build_stats_manifest(spark, str(tmp_path), ["x"])


def test_out_of_domain_predicate_returns_empty(spark, layout):
    """A consistent range entirely OUTSIDE the data domain (x in
    [250, 300] when max(x)=199) legitimately prunes every file — the
    pruned scan must return the correctly-empty result with the full
    table schema, not raise."""
    zpath, _ = layout
    man = build_stats_manifest(spark, zpath, ["x", "y"])
    preds = {"x": (250.0, 300.0)}
    assert prune_files(man, preds) == []
    got = pruned_scan(spark, man, preds)
    assert got.count() == 0
    assert set(got.columns) == set(spark.read.parquet(zpath).columns)


def test_partitioned_zordered_pruned_scan(spark, tmp_path):
    """Manifest over a PARTITIONED + z-ordered table: the recursive
    listing finds the leaf files under col=value dirs, partition
    values prune like data-column stats, and the basePath-aware
    pruned scan matches the full scan (schema included)."""
    path = str(tmp_path / "ptbl")
    grid = spark.range(20_000).select(
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") % 200).alias("x"),
        F.col("id").alias("payload"),
    )
    grid.write.mode("overwrite").partitionBy("bucket").parquet(path)
    files = list_parquet_files(path, spark)
    assert files and all("bucket=" in f for f in files)
    man = build_stats_manifest(spark, path, ["bucket", "x"]).cache()
    man.count()
    # partition-column rows exist with vmin == vmax == the dir value
    brows = man.where(F.col("col") == "bucket").collect()
    assert brows and all(r["vmin"] == r["vmax"] for r in brows)
    preds = {"bucket": (1.0, 2.0), "x": (10.0, 50.0)}
    kept = prune_files(man, preds)
    assert 0 < len(kept) < len(files), "partition pruning did nothing"
    assert all(("bucket=1" in f) or ("bucket=2" in f) for f in kept)
    got = pruned_scan(spark, man, preds, base_path=path)
    full = spark.read.parquet(path).where(
        F.col("bucket").between(1, 2) & F.col("x").between(10, 50)
    )
    assert set(got.columns) == set(full.columns)
    g = got.agg(F.count(F.lit(1)), F.sum("payload")).first()
    w = full.agg(F.count(F.lit(1)), F.sum("payload")).first()
    assert tuple(g) == tuple(w) and g[0] > 0
    man.unpersist()


def test_pruned_scan_equals_full_scan_randomized(spark, layout):
    """Seeded sweep of 12 random range predicates (single- and
    two-column, including empty-result and full-domain ranges): the
    pruned scan must agree with the unpruned filter on count and
    checksum every time."""
    import random

    zpath, _ = layout
    man = build_stats_manifest(spark, zpath, ["x", "y"]).cache()
    man.count()
    rng = random.Random(4)
    full = spark.read.parquet(zpath)
    for _ in range(12):
        preds = {}
        for col, dom in (("x", 200), ("y", 200)):
            if rng.random() < 0.7:
                lo = rng.uniform(-10, dom)
                preds[col] = (lo, lo + rng.uniform(0, dom / 2))
        if not preds:
            preds["x"] = (0.0, 200.0)
        got = pruned_scan(spark, man, preds)
        want = full
        for c, (lo, hi) in preds.items():
            want = want.where(F.col(c).between(lo, hi))
        g = got.agg(F.count(F.lit(1)), F.sum("payload")).first()
        w = want.agg(F.count(F.lit(1)), F.sum("payload")).first()
        assert tuple(g) == tuple(w), preds
    man.unpersist()


def test_events_layout_pruned_scan_reads_fewer_files(spark, sf_dir):
    """Registry query events_layout_pruned_scan: the pruned frame's
    inputFiles must be a strict subset of the layout's files (the
    layout lever is actually engaged, not just correct), and the
    result must match the plain full-table query."""
    from time_series_prediction_spark.plans.layout_queries import (
        _PRED,
        _manifest_for,
        events_layout_pruned_scan,
        events_zorder_layout,
    )
    from time_series_prediction_spark.sources.io import read_table

    layout = events_zorder_layout(spark, sf_dir)
    pruned = pruned_scan(
        spark, _manifest_for(spark, layout), _PRED, base_path=layout
    )
    n_read = len(pruned.inputFiles())
    n_total = len(list_parquet_files(layout, spark))
    assert 0 < n_read < n_total, (n_read, n_total)
    got = {
        (r["event_type"], r["n_events"], r["total_cents"])
        for r in events_layout_pruned_scan(spark, sf_dir).collect()
    }
    want = {
        (r["event_type"], r["n_events"], r["total_cents"])
        for r in read_table(spark, sf_dir, "events")
        .where(F.col("user_id").between(3, 9) & F.col("value").between(25, 75))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias(
                "total_cents"
            ),
        )
        .collect()
    }
    assert got == want and got


def test_layout_cache_key_stable_across_processes():
    """The layout dir must be identical from different Python
    processes: the original implementation keyed it with hash(),
    which PYTHONHASHSEED salts per process, so every run rebuilt the
    (expensive) Z-ordered copy instead of hitting the cache."""
    import os
    import pathlib
    import subprocess
    import sys

    prog = (
        "from time_series_prediction_spark.plans.layout_queries import "
        "_ident_key; "
        "print(_ident_key('file:/x/events.parquet|64|1700000000000|gen'))"
    )
    env = dict(os.environ)
    outs = set()
    for seed in ("1", "7"):
        env["PYTHONHASHSEED"] = seed
        out = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True,
            text=True,
            env=env,
            cwd=str(pathlib.Path(__file__).resolve().parent.parent),
            check=True,
        ).stdout.strip()
        outs.add(out)
    assert len(outs) == 1, outs


def test_layout_gc_removes_stale_keeps_current(spark, tmp_path):
    """_gc_stale_layouts: dirs whose recorded source identity no longer
    matches the file on disk are removed; current layouts (matching
    _IDENT) and the in-use dir are kept; dirs without _IDENT are
    stale by construction."""
    import os

    from time_series_prediction_spark.plans.layout_queries import (
        _gc_stale_layouts,
        _layout_ident,
    )
    from time_series_prediction_spark.sources.fsops import fs_for

    fs = fs_for(spark, str(tmp_path))
    root = tmp_path / "layouts"
    root.mkdir()
    src = tmp_path / "events.parquet"
    src.write_bytes(b"x" * 64)

    current = root / "events_z_current"
    current.mkdir()
    (current / "_IDENT").write_text(_layout_ident(fs, str(src)))

    stale = root / "events_z_stale"
    stale.mkdir()
    (stale / "_IDENT").write_text(f"{src}|999|123")  # identity mismatch

    no_ident = root / "events_z_legacy"
    no_ident.mkdir()

    gone_src = root / "events_z_gone"
    gone_src.mkdir()
    (gone_src / "_IDENT").write_text(f"{tmp_path/'vanished.parquet'}|1|2")

    # same source triple but DIFFERENT generation params: built by
    # another code version that may still be running — must be kept
    foreign = root / "events_z_foreign"
    foreign.mkdir()
    size_b, mtime_ms = fs.status(str(src))
    (foreign / "_IDENT").write_text(
        f"{src}|{size_b}|{mtime_ms}|old_cols|old_z|99"
    )

    in_use = root / "events_z_inuse"
    in_use.mkdir()  # no _IDENT yet (mid-build) but passed as keep

    fresh_no_ident = root / "events_z_concurrent"
    fresh_no_ident.mkdir()  # another process's build in progress

    # age everything except the concurrent build past the GC grace
    # period (fresh dirs are protected so a mid-build sibling of a
    # concurrent process is never deleted)
    import time

    old = time.time() - 7200
    for d in (current, stale, no_ident, gone_src, in_use, foreign):
        os.utime(d, (old, old))

    _gc_stale_layouts(fs, str(root), keep=str(in_use))
    left = {p.name for p in root.iterdir()}
    assert left == {
        "events_z_current",
        "events_z_inuse",
        "events_z_concurrent",
        "events_z_foreign",
    }, left


def test_layout_persists_manifest_at_commit(spark, sf_dir):
    """The layout build writes its footer-stats manifest beside the
    data (lakehouse pattern); the persisted copy must match a fresh
    footer scan row-for-row, and readers must prefer it."""
    import os

    from time_series_prediction_spark.plans.layout_queries import (
        _ZCOLS,
        _manifest_for,
        events_zorder_layout,
    )

    layout = events_zorder_layout(spark, sf_dir)
    persisted = os.path.join(layout, "_manifest")
    assert os.path.exists(persisted)
    got = sorted(map(tuple, _manifest_for(spark, layout).collect()))
    want = sorted(
        map(tuple, build_stats_manifest(spark, layout, _ZCOLS).collect())
    )
    assert got == want


def test_layout_concurrent_builds_one_winner(tmp_path):
    """Two processes racing to build the SAME layout must both end up
    with one valid published dir: the atomic-rename publish lets one
    build win, the loser discards its private temp copy, and both
    return the identical path with full row count and an _IDENT
    marker."""
    import os
    import shutil
    import subprocess
    import sys

    sf_src = tmp_path / "sfcopy"
    sf_src.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        sf_src / "events.parquet",
    )
    prog = f"""
import sys
from time_series_prediction_spark.session import get_spark
from time_series_prediction_spark.plans.layout_queries import (
    events_zorder_layout,
)
spark = get_spark(app_name="race-" + sys.argv[1], master="local[4]",
                  shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
path = events_zorder_layout(spark, {str(sf_src)!r})
n = spark.read.parquet(path).count()
print("RESULT", path, n)
spark.stop()
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", prog, tag],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            cwd="/root/repo",
        )
        for tag in ("a", "b")
    ]
    results = []
    for p in procs:
        out, _ = p.communicate(timeout=300)
        assert p.returncode == 0, out
        line = [ln for ln in out.splitlines() if ln.startswith("RESULT")][0]
        _, path, n = line.split()
        results.append((path, int(n)))
    (pa, na), (pb, nb) = results
    try:
        assert pa == pb, "both processes must converge on one layout dir"
        assert na == nb > 0
        assert os.path.exists(os.path.join(pa, "_IDENT"))
        # no orphaned .build-* temp dirs left behind
        siblings = os.listdir(os.path.dirname(pa))
        assert not any(".build-" in s for s in siblings), siblings
    finally:
        # the source dir is pytest-temp; don't leave the layout for GC
        shutil.rmtree(pa, ignore_errors=True)
        if pb != pa:
            shutil.rmtree(pb, ignore_errors=True)


def test_zordered_append_with_incremental_manifest(spark, tmp_path):
    """The ingestion flow of ``streaming/layout.commit_zordered_batch``:
    base layout + z-ordered APPEND batch in its own directory, and the
    manifest updated by footer-reading only the batch's files. The
    updated manifest must equal a full rebuild, the pruned scan must
    match the full filtered scan over base+batch, and stats pruning
    must still skip files."""
    path = str(tmp_path / "ingest")
    grid = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    base = grid.where(F.col("id") % 2 == 0)
    batch = grid.where(F.col("id") % 2 == 1)
    write_zordered(base, f"{path}/batch-0", ["x", "y"], n_files=8)
    man0 = build_stats_manifest(spark, path, ["x", "y"]).cache()
    man0.count()
    # the batch lands as its own 8 Morton-sorted files; history stays
    write_zordered(batch, f"{path}/batch-1", ["x", "y"], n_files=8)
    fresh = build_stats_manifest(spark, f"{path}/batch-1", ["x", "y"])
    man1 = man0.unionByName(fresh).cache()
    rebuilt = build_stats_manifest(spark, path, ["x", "y"])
    assert sorted(map(tuple, man1.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    files = list_parquet_files(path, spark)
    assert len(files) == 16  # base 8 + batch 8, history untouched
    preds = {"x": (10.0, 22.0), "y": (30.0, 80.0)}
    kept = prune_files(man1, preds)
    assert 0 < len(kept) < len(files), "append killed stats pruning"
    got = (
        pruned_scan(spark, man1, preds)
        .agg(F.count(F.lit(1)), F.sum("payload"))
        .first()
    )
    want = (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(path)
        .where(F.col("x").between(10, 22) & F.col("y").between(30, 80))
        .agg(F.count(F.lit(1)), F.sum("payload"))
        .first()
    )
    assert tuple(got) == tuple(want) and got[0] > 0
    man0.unpersist()
    man1.unpersist()


def test_manifest_base_normalization_file_uri_and_relative(spark, tmp_path):
    """Partition-value manifest rows must appear even when the caller
    passes a ``file:``-prefixed URI or a relative path as the table
    base: the base is resolved through the same FileSystem/URI
    normalization as the listing, so the prefix check matches the
    listed absolute paths (a textual mismatch would silently disable
    partition pruning)."""
    import os

    path = str(tmp_path / "ptbl_uri")
    grid = spark.range(2_000).select(
        (F.col("id") % 4).alias("bucket"),
        F.col("id").alias("payload"),
    )
    grid.write.mode("overwrite").partitionBy("bucket").parquet(path)

    for variant in (
        f"file:{path}",
        os.path.relpath(path, os.getcwd()),
    ):
        man = build_stats_manifest(spark, variant, ["bucket", "payload"])
        brows = man.where(F.col("col") == "bucket").collect()
        assert brows, f"no partition rows for base variant {variant!r}"
        assert all(r["vmin"] == r["vmax"] for r in brows)


def test_manifest_for_ignores_half_committed_manifest(spark, sf_dir):
    """A ``_manifest`` dir without its ``_SUCCESS`` marker (crashed or
    in-flight write) must NOT be preferred: readers fall back to a
    live footer scan and still produce the correct manifest."""
    import os

    from time_series_prediction_spark.plans.layout_queries import (
        _MANIFEST_CACHE,
        _ZCOLS,
        _manifest_for,
        events_zorder_layout,
    )

    layout = events_zorder_layout(spark, sf_dir)
    success = os.path.join(layout, "_manifest", "_SUCCESS")
    assert os.path.exists(success)
    os.remove(success)
    _MANIFEST_CACHE.clear()
    try:
        got = sorted(map(tuple, _manifest_for(spark, layout).collect()))
        want = sorted(
            map(tuple, build_stats_manifest(spark, layout, _ZCOLS).collect())
        )
        assert got == want
    finally:
        # restore the marker for later tests reusing the cached layout
        open(success, "w").close()
        _MANIFEST_CACHE.clear()


def test_dpp_scan_plans_runtime_partition_pruning(spark, sf_dir):
    """events_dpp_scan must compile to a scan whose PartitionFilters
    carry a dynamicpruning subquery — partition dirs are selected at
    RUNTIME from the dimension's filter result, the star-schema
    skipping lever. (Result parity with the raw-table oracle is
    covered by the registry gate.)"""
    from time_series_prediction_spark.plans.layout_queries import (
        events_dpp_scan,
    )

    df = events_dpp_scan(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_local_rows_df_values_equivalence(spark):
    """local_rows_df must return the same rows as createDataFrame for
    every type it claims to support (incl. NULLs, quotes, NaN/inf
    doubles) AND plan as a LocalTableScan (zero extra Spark jobs per
    consumer action), falling back to createDataFrame above the row
    cap or for unsupported types."""
    from time_series_prediction_spark.operators import localrel
    from time_series_prediction_spark.operators.localrel import (
        local_rows_df,
    )

    rows = [
        ("it's", 1, True, 1.5),
        (None, None, None, float("nan")),
        ("b\\slash", -7, False, float("-inf")),
    ]
    ddl = "s string, n bigint, b boolean, d double"
    got = local_rows_df(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan

    def key(r):
        return tuple(
            (repr(v) if v == v else "nan") if v is not None else "∅"
            for v in r
        )

    assert sorted(map(key, got.collect())) == sorted(
        map(key, want.collect())
    )

    # above the cap: plain createDataFrame (RDD-backed), same rows
    many = [(f"k{i}", i, True, 0.5) for i in range(5)]
    cap = localrel.MAX_VALUES_ROWS
    try:
        localrel.MAX_VALUES_ROWS = 3
        big = local_rows_df(spark, many, ddl)
        assert "LocalTableScan" not in (
            big._jdf.queryExecution().executedPlan().toString()
        )
        assert sorted(map(tuple, big.collect())) == sorted(
            map(tuple, spark.createDataFrame(many, ddl).collect())
        )
    finally:
        localrel.MAX_VALUES_ROWS = cap
