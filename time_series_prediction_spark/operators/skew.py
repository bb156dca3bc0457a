"""Skew-aware aggregation: two-phase salted groupBy.

At 100 TB a handful of hot keys (a viral event_type, a mega-customer)
can make one reducer the whole job's critical path. AQE's skew-join
splitting handles joins; for AGGREGATIONS over hot keys the classic
fix is salting:

  phase 1: group by (key, salt) where salt = hash(row) % S —
           hot keys split across S reducers, partial aggregates
  phase 2: group by key over the S partials — tiny input

Correct for any algebraic aggregate (sum/count/min/max). The result
is bit-identical to the unsalted groupBy when the aggregate is an
exact integer domain (this engine's determinism contract), which is
what lets the DuckDB oracle check it: the salted plan must produce
EXACTLY the plain GROUP BY's answer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    sum_col: Column,
    n_salts: int = 16,
    sum_alias: str = "total",
    count_alias: str = "n",
) -> DataFrame:
    """Two-phase sum/count over possibly-skewed keys.

    ``sum_col`` should be an exact-integer expression (e.g. cents) so
    the two-phase result is bit-identical to single-phase."""
    salted = df.withColumn(
        "_salt", (F.spark_partition_id() + F.monotonically_increasing_id()) % n_salts
    )
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        F.sum(sum_col).alias("_ps"), F.count(F.lit(1)).alias("_pc")
    )
    return phase1.groupBy(*key_cols).agg(
        F.sum("_ps").alias(sum_alias), F.sum("_pc").cast("bigint").alias(count_alias)
    )
