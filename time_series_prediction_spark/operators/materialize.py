"""Materialization helper: one switch for how iterative / self-joining
plans pin an intermediate result.

``localCheckpoint`` is the right default on a single machine (no extra
infra, truncates lineage), but it pins blocks in EXECUTOR storage — on
a real cluster the materialized data dies with an executor, which is
fatal for iterative algorithms (connected components) whose lineage was
just truncated. This helper routes every such call site through one
session-configurable switch:

  mode        | call                            | survives executor loss
  ------------|---------------------------------|-----------------------
  ``local``   | df.localCheckpoint()            | no  (default; local[NN])
  ``reliable``| df.checkpoint() to checkpointDir| yes (HDFS/S3-backed)
  ``persist`` | df.persist(DISK_ONLY) + count() | no, but recomputable
              |                                 | (lineage kept)

Session confs (set once on the SparkSession):
  spark.tsp.materialize.mode          local | reliable | persist
  spark.tsp.materialize.checkpointDir directory for ``reliable`` mode
                                      (used when the SparkContext has no
                                      checkpoint dir yet)
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

MODE_CONF = "spark.tsp.materialize.mode"
CHECKPOINT_DIR_CONF = "spark.tsp.materialize.checkpointDir"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once so downstream reuse (self-joins, loop
    rounds) does not recompute its subtree. Mode comes from the
    session conf, else ``local``.

    ``eager=False`` defers the checkpoint to the FIRST action over the
    returned frame — use when the caller immediately runs one (e.g. an
    iterative loop's convergence count): the action materializes the
    checkpoint as a side effect, saving one Spark job per call. Ignored
    by ``persist`` mode, which must force to give compute-once
    semantics."""
    spark = df.sparkSession
    mode = spark.conf.get(MODE_CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = spark.sparkContext
        ckdir = spark.conf.get(CHECKPOINT_DIR_CONF, None)
        if ckdir:
            # The session conf WINS over a previously-pinned context
            # dir (setCheckpointDir appends a random subdir, so compare
            # by prefix after stripping the scheme): a caller that set
            # the conf expects checkpoints to land under THAT dir, not
            # wherever an earlier caller pointed the shared context.
            cur = sc.getCheckpointDir()
            want = ckdir.removeprefix("file:").rstrip("/")
            cur_path = (
                None if cur is None else cur.removeprefix("file:").rstrip("/")
            )
            # Component-wise prefix: /tmp/ck-old must NOT match /tmp/ck.
            if cur_path is None or not (
                cur_path == want or cur_path.startswith(want + "/")
            ):
                sc.setCheckpointDir(ckdir)
        elif sc.getCheckpointDir() is None:
            raise ValueError(
                f"materialize in {MODE_CONF}=reliable needs a checkpoint dir: "
                "call sparkContext.setCheckpointDir(...) or set "
                f"{CHECKPOINT_DIR_CONF}"
            )
        return df.checkpoint(eager=eager)
    if mode == "persist":
        out = df.persist(StorageLevel.DISK_ONLY)
        out.count()  # force now: callers rely on compute-once semantics
        return out
    raise ValueError(
        f"unknown materialize mode {mode!r} (expected local|reliable|persist)"
    )
