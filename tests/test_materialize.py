"""materialize() mode switch: localCheckpoint default, reliable
DFS-backed checkpoint, DISK_ONLY persist — same results either way."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from time_series_prediction_spark.operators.components import (
    connected_components,
)
from time_series_prediction_spark.operators.materialize import (
    CHECKPOINT_DIR_CONF,
    MODE_CONF,
    materialize,
)


@pytest.fixture
def reset_conf(spark):
    yield
    spark.conf.unset(MODE_CONF)
    spark.conf.unset(CHECKPOINT_DIR_CONF)


def _edges(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], ["src", "dst"]
    )


def test_default_mode_is_local_checkpoint(spark):
    df = materialize(spark.range(5))
    assert df.count() == 5
    # a checkpointed frame's plan is a materialized RDD scan, not Range
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan and "Range" not in plan


def test_reliable_mode_without_dir_raises(spark, reset_conf):
    # must run BEFORE the writes test below pins a context checkpoint dir
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("checkpoint dir already pinned on shared context")
    spark.conf.set(MODE_CONF, "reliable")
    with pytest.raises(ValueError, match="checkpoint dir"):
        materialize(spark.range(3))


def test_reliable_mode_writes_checkpoint_dir(spark, reset_conf):
    with tempfile.TemporaryDirectory() as tmp:
        spark.conf.set(MODE_CONF, "reliable")
        spark.conf.set(CHECKPOINT_DIR_CONF, tmp)
        comp = connected_components(_edges(spark))
        got = {
            (r["vertex"], r["component"]) for r in comp.collect()
        }
        assert got == {
            (1, 1), (2, 1), (3, 1),
            (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
        }
        # the reliable checkpoint actually landed on disk
        walked = [
            f for _, _, files in os.walk(tmp) for f in files
        ]
        assert walked, "no checkpoint files written under the configured dir"


def test_persist_mode_same_answers(spark, reset_conf):
    spark.conf.set(MODE_CONF, "persist")
    comp = connected_components(_edges(spark))
    assert comp.where(F.col("component") == 1).count() == 3


def test_unknown_mode_raises(spark, reset_conf):
    spark.conf.set(MODE_CONF, "nope")
    with pytest.raises(ValueError, match="unknown materialize mode"):
        materialize(spark.range(3))
