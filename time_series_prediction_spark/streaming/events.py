"""Structured Streaming over the events table.

The reference has NO streaming surface (SURVEY §2.9 — batch arrays
only); this is engine stretch scope, used by the registry's
``events_stream_join_scan`` query (plans/layout_queries.py):

* a watermarked STREAM-STREAM interval join (click → purchase
  attribution) whose state the engine can evict;
* a ``foreachBatch`` parquet sink for exactly-once-style
  materialization.

Tests drive these with the fixture parquet files as a file-stream
source and ``processAllAvailable()`` (a bounded drain), which executes
the real incremental engine — not a batch rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def click_purchase_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join: each click matches the same user's
    purchases within ``horizon`` after it — the attribution join.

    Both sides carry watermarks AND the join condition bounds event
    time on both sides; together these let the engine evict buffered
    rows once they can no longer match (without the time bound, both
    sides would be retained forever). State ≈ one horizon+watermark
    window of each stream, constant on an unbounded firehose."""
    c = (
        clicks.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"interval {horizon}")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )


def run_to_parquet_sink(
    df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
) -> StreamingQuery:
    """Materialize via foreachBatch parquet append — the pattern for
    exactly-once-style sinks without a transactional table format."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(path)

    return (
        df.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(write_batch)
        .start()
    )
