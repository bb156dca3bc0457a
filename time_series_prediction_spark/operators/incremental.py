"""Incremental maintenance: an additive rollup kept fresh from a
version change feed without full recomputes.

* ``apply_cdc_to_rollup`` — per-key ``n``/``total`` state absorbs a
  commit's inserted and deleted rows: cost scales with the change, not
  the history. The merge is exact for the integer domains this engine
  uses everywhere (cents, counts), so fold(commits) == full recompute
  bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    affected key); integer domains keep fold(commits) == full
    recompute bit-exact, pinned cross-engine in the registry.

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
