"""Z-order layout: Morton-code correctness and the pruning claim,
verified against the written parquet's own row-group statistics."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.zorder import (
    write_zordered,
    zorder_code,
)


def rowgroup_pruning_fraction(path: str, col: str, lo: float, hi: float) -> float:
    """Fraction of parquet row groups whose [min, max] stats overlap
    [lo, hi] for ``col`` — what a stats-pruning reader must scan.
    Reads footers only (pyarrow), no data pages."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    total = overlapping = 0
    for f in files:
        meta = pq.ParquetFile(f).metadata
        idx = {
            meta.row_group(0).column(i).path_in_schema: i
            for i in range(meta.num_columns)
        }[col]
        for g in range(meta.num_row_groups):
            st = meta.row_group(g).column(idx).statistics
            total += 1
            if st is None or st.min is None:
                overlapping += 1  # no stats ⇒ must scan
            elif not (st.max < lo or st.min > hi):
                overlapping += 1
    return overlapping / max(total, 1)


@pytest.fixture(scope="module")
def grid(spark):
    # deterministic 200x200 uniform grid: both dims independently
    # uniform, the worst case for single-column sorting
    return spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        (F.col("id") / 200).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )


def test_zorder_code_matches_python_interleave(spark, grid):
    """The native bit-fold must equal the classic Python Morton code
    on the normalized ranks."""
    sample = grid.limit(500)
    ranked, code = zorder_code(sample, ["x", "y"], bits=8)
    rows = ranked.withColumn("_zc", code).select("x", "y", "_zc").collect()
    # ranks: min/max over the SAMPLE (zorder_code computed its own)
    xs = [r["x"] for r in rows]
    ys = [r["y"] for r in rows]
    mnx, mxx, mny, mxy = min(xs), max(xs), min(ys), max(ys)

    def rank(v, mn, mx):
        span = (mx - mn) or 1.0
        return min(255, int((v - mn) / span * 256))

    def morton(rx, ry):
        out = 0
        for i in range(8):
            out |= ((rx >> i) & 1) << (2 * i)
            out |= ((ry >> i) & 1) << (2 * i + 1)
        return out

    for r in rows:
        want = morton(rank(r["x"], mnx, mxx), rank(r["y"], mny, mxy))
        assert r["_zc"] == want, (r["x"], r["y"], r["_zc"], want)


def test_zorder_write_prunes_on_every_dimension(spark, grid, tmp_path):
    """The scale contract: after write_zordered on (x, y), a narrow
    predicate on EITHER column must overlap a minority of row groups,
    while the shuffled baseline overlaps essentially all of them.
    Checked from parquet footer statistics — exactly what a pruning
    reader consults."""
    zpath = str(tmp_path / "zordered")
    bpath = str(tmp_path / "baseline")
    write_zordered(grid, zpath, ["x", "y"], n_files=16)
    grid.repartition(16).write.mode("overwrite").parquet(bpath)

    # round-trip integrity: same rows, helper columns gone
    back = spark.read.parquet(zpath)
    assert sorted(back.columns) == ["payload", "x", "y"]
    assert back.count() == grid.count()
    assert back.agg(F.sum("payload")).first()[0] == grid.agg(
        F.sum("payload")
    ).first()[0]

    for col in ("x", "y"):
        zfrac = rowgroup_pruning_fraction(zpath, col, 10, 22)  # ~1/16 width
        bfrac = rowgroup_pruning_fraction(bpath, col, 10, 22)
        assert bfrac >= 0.9, f"baseline unexpectedly pruned {col}"
        assert zfrac <= 0.5, f"z-order failed to prune on {col}: {zfrac}"
        assert zfrac < bfrac


def test_zorder_single_column_degenerates_to_sort(spark, grid, tmp_path):
    """One column ⇒ the Morton code IS the rank: layout equals a plain
    range-sort and pruning on that column is near-perfect."""
    path = str(tmp_path / "zsingle")
    write_zordered(grid, path, ["x"], n_files=16)
    frac = rowgroup_pruning_fraction(path, "x", 100, 105)
    assert frac <= 3 / 16


def test_zorder_code_rejects_empty_cols(spark, grid):
    with pytest.raises(ValueError, match="at least one column"):
        zorder_code(grid, [])
