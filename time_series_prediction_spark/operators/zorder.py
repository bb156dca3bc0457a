"""Z-order (Morton) data layout for multi-dimensional scan pruning.

Beyond-reference scope (the reference materializes Delta tables with
no layout control — reference ``src/demo/training.py:70-90`` writes
whatever order the shuffle produced). At 100 TB the dominant read
cost is scanning files a filter could have skipped: parquet stores
per-row-group min/max statistics, and both Spark's parquet reader and
any lakehouse format (Delta/Iceberg) prune row groups whose stats
exclude the predicate. A single-column sort gives tight stats on ONE
column only; interleaving the bits of several columns (the Z-order /
Morton curve) gives every participating column locally-narrow ranges
in every row group, so filters on ANY of the columns skip most of the
data.

Everything here is native Column expressions + one range
repartition:

* per-column min/max (one narrow agg job) normalizes each column to
  a ``bits``-wide integer rank;
* the Morton code interleaves those ranks with a
  ``aggregate(sequence(...))`` bit fold — pure codegen, no UDF;
* ``repartitionByRange`` on the code creates equal-ish output files
  and ``sortWithinPartitions`` orders rows inside each file, so both
  FILE-level (with format-level stats like Delta's) and
  ROW-GROUP-level min/max stay tight.

The curve quality claim is pinned in tests by reading the written
parquet's row-group statistics directly: point/range predicates on
each z-ordered column individually must overlap a small fraction of
row groups, versus ~all of them for the shuffled baseline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _interleave_sql(rank_cols: list[str], bits: int) -> str:
    """Morton code: bit i of column k lands at position i*n_cols + k.
    A single fold over bit positions — stays inside codegen."""
    n = len(rank_cols)
    terms = " | ".join(
        f"shiftleft(shiftright({c}, i) & 1L, i * {n} + {k})"
        for k, c in enumerate(rank_cols)
    )
    return (
        f"aggregate(sequence(0, {bits - 1}), 0L, "
        f"(acc, i) -> acc | ({terms}))"
    )


def _rank_source(df: DataFrame, c: str) -> Column:
    """The numeric ordering key the Morton rank normalizes: numerics
    cast to double, dates to days-since-epoch, and strings to their
    7-byte binary prefix read as a big-endian integer — an
    order-preserving embedding (zero-padded, so shorter strings sort
    before their extensions, matching lexicographic byte order), which
    is all a LAYOUT needs: rows with nearby prefixes land in the same
    files and the per-file typed string stats stay narrow."""
    from pyspark.sql.types import DateType, StringType

    dt = df.schema[c].dataType
    if isinstance(dt, StringType):
        return F.expr(
            f"CAST(conv(hex(substring(rpad(CAST(`{c}` AS BINARY), 7, "
            f"x'00'), 1, 7)), 16, 10) AS DOUBLE)"
        )
    if isinstance(dt, DateType):
        return F.unix_date(F.col(c)).cast("double")
    return F.col(c).cast("double")


def zorder_code(
    df: DataFrame, cols: list[str], bits: int = 16
) -> tuple[DataFrame, Column]:
    """Attach a Morton code over ``cols`` (numeric, date, or string —
    see ``_rank_source``). Ranks are min/max-normalized to
    ``bits``-wide integers — one tiny agg collect (2·n_cols values)
    feeds literals into the expression, so the code computation
    itself is one narrow pass.

    Returns (df_with_helper_cols, code_column). ``bits`` caps at
    63 // n_cols so the interleaved code fits a signed long.
    """
    if not cols:
        raise ValueError("zorder_code needs at least one column")
    bits = min(bits, 63 // len(cols))
    stats = df.agg(
        *[F.min(_rank_source(df, c)).alias(f"_mn_{c}") for c in cols],
        *[F.max(_rank_source(df, c)).alias(f"_mx_{c}") for c in cols],
    ).first()
    rank_cols = []
    out = df
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = stats[f"_mn_{c}"], stats[f"_mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(
                f"z-order column {c!r} has no non-null values — "
                "drop it from the layout key or filter nulls first"
            )
        span = (mx - mn) or 1.0
        # Null values rank at 0: they cluster into the low end of the
        # curve instead of collapsing the whole row's Morton code to
        # null (which would dump every such row into one partition
        # with no stats benefit).
        rank = F.coalesce(
            F.least(
                F.lit(top).cast("long"),
                F.floor(
                    (_rank_source(df, c) - F.lit(mn))
                    / F.lit(span)
                    * (top + 1)
                ).cast("long"),
            ),
            F.lit(0).cast("long"),
        )
        out = out.withColumn(f"_zr_{c}", rank)
        rank_cols.append(f"_zr_{c}")
    code = F.expr(_interleave_sql(rank_cols, bits))
    return out, code


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 8,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the Z-order curve of
    ``cols``: range-partition by Morton code into ``n_files`` files,
    sort within each, drop the helper columns. One extra shuffle at
    write time buys row-group pruning on every query thereafter —
    the standard lakehouse OPTIMIZE ZORDER trade."""
    ranked, code = zorder_code(df, cols, bits=bits)
    ranked = ranked.withColumn("_zcode", code)
    (
        ranked.repartitionByRange(n_files, "_zcode")
        .sortWithinPartitions("_zcode")
        .drop("_zcode", *[f"_zr_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered_partitioned(
    df: DataFrame,
    path: str,
    cols: list[str],
    part_cols: list[str],
    files_per_partition: int = 8,
    bits: int = 16,
) -> None:
    """OPTIMIZE ZORDER for a Hive-partitioned layout: range-partition
    by (partition columns, Morton code) — the per-partition range
    shuffle — and write with ``partitionBy``, so every output task
    covers one contiguous (dir, z-range) slice and each partition
    directory's files carry disjoint-ish z ranges for stats pruning.
    Task count scales with |distinct partition tuples| ×
    ``files_per_partition`` (the tuple count is one metadata-sized
    aggregate); partitions with little data share tasks, the same
    proportional-fill behavior Delta's own per-partition OPTIMIZE
    has."""
    ranked, code = zorder_code(df, cols, bits=bits)
    ranked = ranked.withColumn("_zcode", code)
    n_dirs = max(int(df.select(*part_cols).distinct().count()), 1)
    n = max(1, files_per_partition * n_dirs)
    (
        ranked.repartitionByRange(n, *part_cols, "_zcode")
        .sortWithinPartitions(*part_cols, "_zcode")
        .drop("_zcode", *[f"_zr_{c}" for c in cols])
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(path)
    )
