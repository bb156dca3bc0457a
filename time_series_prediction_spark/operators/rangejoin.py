"""Range (interval) join: points joined to intervals that contain them.

Beyond-reference scope: the reference's only join is a 1-row crossJoin
(SURVEY §2.3 J1); a training-data pipeline needs point-in-interval
joins (events ↔ validity windows, log lines ↔ incident windows).

A naive `points JOIN intervals ON p BETWEEN s AND e` has no equi key,
so Spark plans BroadcastNestedLoopJoin — O(P·I) compares and a
broadcast that must fit one side in memory. At 100 TB that's fatal.
The scalable form here is **bucketed expansion**: pick a bucket width
w, explode each interval into the ⌈len/w⌉+1 buckets it overlaps, map
each point to its single bucket, then equi-join on bucket id (+ any
extra equi keys) and re-check the exact containment predicate.
Shuffle is keyed by bucket → both sides partition-prune to matching
buckets only; cost is O(P + I·avg_len/w + matches). Choose w near the
median interval length so expansion stays a small constant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: float,
    equi_keys: list[tuple[str, str]] | None = None,
    end_inclusive: bool = False,
) -> DataFrame:
    """Join each point row to every interval row with
    start <= point < end (or <= end when ``end_inclusive``), optionally
    also matching on equi-key pairs [(point_key, interval_key), ...].

    ``point_col``/``start_col``/``end_col`` must be numeric (cast
    timestamps to epoch numbers first, e.g. ``unix_micros``). Output columns = all
    point columns + all interval columns (names must not collide).
    """
    pb = F.floor(F.col(point_col) / F.lit(bucket_width))
    sb = F.floor(F.col(start_col) / F.lit(bucket_width))
    eb = F.floor(F.col(end_col) / F.lit(bucket_width))

    p = points.withColumn("_bucket", pb)
    i = intervals.withColumn(
        "_bucket", F.explode(F.sequence(sb, eb))
    )
    upper = (
        F.col(point_col) <= F.col(end_col)
        if end_inclusive
        else F.col(point_col) < F.col(end_col)
    )
    cond = (F.col(start_col) <= F.col(point_col)) & upper
    on = [p["_bucket"] == i["_bucket"]]
    for pk, ik in equi_keys or []:
        on.append(p[pk] == i[ik])
    joined = p.join(i, _and(on))
    return joined.where(cond).drop("_bucket")


def _and(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out
