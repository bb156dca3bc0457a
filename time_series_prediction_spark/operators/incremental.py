"""Incremental maintenance operators: algebraic rollup merge and CDC
snapshot — the lakehouse ops that keep derived tables fresh without
full recomputes.

* ``rollup_partials`` / ``merge_rollups`` — an aggregate expressed as
  ALGEBRAIC partial state (sum/count/min/max per key) can absorb a new
  batch by aggregating ONLY the batch and merging states: cost scales
  with the batch, not the history. The merge is exact for the integer
  domains this engine uses everywhere (cents, counts), so
  fold(batches) == full recompute bit-for-bit — pinned by a property
  test.
* ``cdc_snapshot`` — replay a changelog (key, seq, op, payload) to the
  current snapshot: last-writer-wins per key via one window pass,
  deletes drop the key. This is the APPLY side of MERGE INTO without a
  transactional format; at 100 TB the window shuffle is keyed by the
  primary key and AQE handles skewed hot keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def rollup_partials(
    batch: DataFrame, key_cols: list[str], value_col: str
) -> DataFrame:
    """Aggregate one batch to per-key algebraic state
    (count, sum, min, max) over an exact-integer value column."""
    return batch.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(value_col).cast("bigint").alias("total"),
        F.min(value_col).cast("bigint").alias("vmin"),
        F.max(value_col).cast("bigint").alias("vmax"),
    )


def merge_rollups(
    prev: DataFrame | None, batch_partials: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Merge a batch's partial states into the running rollup.

    count/sum merge by +, min/max by min/max — one union + one
    aggregation over (|prev keys| + |batch keys|) rows, independent of
    how many raw rows ever existed."""
    if prev is None:
        return batch_partials
    return (
        prev.unionByName(batch_partials)
        .groupBy(*key_cols)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total").cast("bigint").alias("total"),
            F.min("vmin").cast("bigint").alias("vmin"),
            F.max("vmax").cast("bigint").alias("vmax"),
        )
    )


def cdc_snapshot(
    changelog: DataFrame,
    key_cols: list[str],
    seq_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Changelog → current snapshot: for each key keep the row with the
    highest (seq_cols) sequence; if that row is a delete, the key is
    absent from the snapshot. ``seq_cols`` must totally order changes
    per key (e.g. [ts, event_id]) or last-writer-wins is ambiguous."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.desc(c) for c in seq_cols]
    )
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col(op_col) != delete_op))
        .drop("_rn")
    )


def apply_cdc_to_rollup(
    view: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    value_col: str,
    change_col: str = "_change",
) -> DataFrame:
    """Maintain an ADDITIVE rollup (per-key ``n``/``total``) from a
    version change feed (``operators/cow.version_changes``): inserts
    add, deletes subtract, keys whose count reaches zero drop out.

    This is incremental materialized-view maintenance over the cow
    table's CDC — the aggregate absorbs a commit at the cost of the
    CHANGED rows, never re-reading history. Only additive state is
    maintainable under deletes (min/max would need a re-scan of the
    affected key — use ``merge_rollups`` for append-only feeds);
    integer domains keep fold(commits) == full recompute bit-exact,
    pinned cross-engine in the registry.

    Scale shape: one groupBy over the change rows + one co-grouped
    merge with the view — both keyed by the view key; the view side
    is |distinct keys|, independent of table size."""
    sign = F.when(F.col(change_col) == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = changes.groupBy(*key_cols).agg(
        F.sum(sign).cast("bigint").alias("n"),
        F.sum(sign * F.col(value_col)).cast("bigint").alias("total"),
    )
    return (
        view.select(*key_cols, "n", "total")
        .unionByName(delta)
        .groupBy(*key_cols)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total").cast("bigint").alias("total"),
        )
        .where(F.col("n") != 0)
    )
