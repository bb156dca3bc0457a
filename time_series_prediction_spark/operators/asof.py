"""As-of join — the time-series join Spark lacks natively.

For each left row, attach the most recent right row at-or-before its
timestamp, per key. The scalable construction is the union-and-carry
trick, NOT a range cross-join:

  1. tag both inputs and UNION them into one stream
  2. sort per key by (ts, side) via a single window specification
  3. carry the latest right-side payload forward with
     ``last(payload, ignorenulls=True)``
  4. keep left rows

Cost: ONE shuffle (hash by key) + per-partition sort — same as any
windowed op, no matter how skewed the time axis. The naive
alternative (range join + per-left-row max) is a quadratic blowup the
optimizer cannot always save you from. DuckDB has a native ASOF JOIN,
which the driver oracle uses to cross-check this construction exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """Attach, per ``on`` key, the latest right row with
    ``right_ts <= left_ts``.

    Output: all left columns + ``<payload>_asof`` columns +
    ``<right_ts>_asof`` (the matched right timestamp, null if no
    match)."""
    lcols = left.columns
    tagged_left = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        F.lit(None).cast(
            right.select(
                F.struct(
                    F.col(right_ts).alias("_rts"),
                    *[F.col(c) for c in right_payload],
                ).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("_r"),
    )
    tagged_right = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            left.select(
                F.struct(*[F.col(c) for c in lcols]).alias("s")
            ).schema["s"].dataType.simpleString()
        ).alias("_l"),
        F.struct(
            F.col(right_ts).alias("_rts"), *[F.col(c) for c in right_payload]
        ).alias("_r"),
    )
    unioned = tagged_left.unionByName(tagged_right)
    # right rows sort BEFORE left rows at equal timestamps (side 0 < 1)
    # so an exactly-simultaneous right row is visible to the left row.
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.withColumn("_carry", F.last("_r", ignorenulls=True).over(w))
    out = carried.where(F.col("_side") == 1)
    sel = [F.col(f"_l.{c}").alias(c) for c in lcols]
    sel.append(F.col("_carry._rts").alias(f"{right_ts}_asof"))
    sel.extend(F.col(f"_carry.{c}").alias(f"{c}_asof") for c in right_payload)
    return out.select(*sel)
