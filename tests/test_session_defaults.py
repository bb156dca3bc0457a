"""The engine defaults of ``session.py`` that exist for speed: compiled
code is reused across a working set larger than Spark's own cache, and
errors stay clear with PySpark's call-site capture off."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException


def _compilations(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_generated_classes_are_reused(spark):
    """150 distinct queries generate about 300 classes, three times
    Spark's default cache of 100. Run twice, the second pass finds every
    class in the cache and compiles none; with 100 entries the cyclic
    pass would evict each class before its next use and compile all."""

    def one_pass():
        for k in range(150):
            spark.range(8).selectExpr(f"id * {k + 1} + {k} AS v").where(
                f"v % 3 != {k % 3}"
            ).collect()

    one_pass()
    before = _compilations(spark)
    one_pass()
    assert _compilations(spark) - before == 0


def test_missing_column_error_names_the_column(spark):
    """With the call-site capture off, selecting a missing column still
    fails at analysis with an error that names the column."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    df = spark.range(3)
    with pytest.raises(AnalysisException, match="no_such_column"):
        df.select("no_such_column")
