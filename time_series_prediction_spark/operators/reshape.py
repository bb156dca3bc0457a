"""Long → wide reshaping for time series.

The reference stores one row per series with the whole daily series in
an ``array<float>`` column plus a shared ``array<date>`` axis
(reference ``src/demo/create_time_series.py:185-196``). That "wide"
layout is ideal for model I/O (one training example per row) but
hostile to Catalyst: every per-series transform becomes an opaque UDF.

The flagship queries read daily observations in long form
(series_id, ds: date, value: double) — one row per observation — and
collapse them into that wide form to feed the array pipeline:
(series_id, transactiondate: array<date>, balance: array<float>).

Scale note: the collapse groups by series id: one shuffle, which AQE
sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def long_to_wide(
    df: DataFrame,
    id_col: str = "primaryaccountholder",
    ds_col: str = "ds",
    value_col: str = "value",
    out_date: str = "transactiondate",
    out_value: str = "balance",
) -> DataFrame:
    """Collapse (id, ds, value) → one row per series with aligned arrays.

    ``array_sort`` on zipped structs restores date order without relying
    on input ordering — ``collect_list`` order is nondeterministic after
    shuffles, so sorting post-hoc is the only correct distributed
    approach (one shuffle on id, map-side partial aggregation applies).
    """
    return (
        df.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(ds_col).alias("ds"), F.col(value_col).alias("v")))
            ).alias("_pairs")
        )
        .select(
            F.col(id_col),
            F.col("_pairs.ds").alias(out_date),
            F.col("_pairs.v").cast("array<float>").alias(out_value),
        )
    )
