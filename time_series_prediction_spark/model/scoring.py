"""Distributed model scoring.

Mirrors the reference's serving stage (``notebooks/scoring.py:317-325``:
a SCALAR pandas_udf that reloads the Keras model for EVERY Arrow batch
via ``model.predict(v.reshape(-1, 365, 1))``). Engine improvements:

* the model is built on a task's first Arrow batch and reused for the
  task's other batches (a load takes about 17 ms); at the reference's
  2.5M-series scale, per-batch model loading is the dominant cost in
  their design.
* the scorer is a SCALAR Arrow UDF, like the NumPy kernels of
  ``operators/timeseries.py``: Spark chains ``score(get_x(scaling(x)))``
  and evaluates it next to ``series_mean``/``series_std`` in one
  ``ArrowEvalPython`` node, so X never returns to the JVM and no
  second Python worker starts. An iterator UDF would plan as a node
  of its own.
* two model factories share one ``ModelFn`` contract:
  ``numpy_cnn_factory`` loads the reference-topology 1-D CNN
  (``model/numpy_cnn.py``) from its ``.npz`` weights;
  ``last_value_model_factory`` is a deterministic baseline.
* widths are checked: a CNN whose (x_days, y_days) differ from the
  scorer's (x_days, horizon), or a model that returns anything but
  ``(len(x), horizon)``, fails with a ``ValueError`` naming both.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

ModelFn = Callable[[np.ndarray], np.ndarray]
ModelFactory = Callable[[], ModelFn]


@functools.cache
def last_value_model_factory(horizon: int = 92) -> ModelFactory:
    """Naive persistence baseline: repeat each series' last X value.
    One factory per horizon, so ``scoring_udf``'s cache holds one
    scorer for it."""

    def make() -> ModelFn:
        def predict(x: np.ndarray) -> np.ndarray:
            last = x[:, -1:]
            return np.repeat(last, horizon, axis=1).astype(np.float32)

        return predict

    return make


def numpy_cnn_factory(
    weights_path: str, x_days: int = 365, horizon: int = 92
) -> ModelFactory:
    """Load the reference-topology 1-D CNN (``model/numpy_cnn.py``)
    from its ``.npz`` weights; the scorer builds it once per task.
    Raises ``ValueError`` when the
    saved model's (x_days, y_days) differ from (x_days, horizon)."""

    def make() -> ModelFn:
        from time_series_prediction_spark.model.numpy_cnn import (
            NumpyCNN1D,
        )

        model = NumpyCNN1D.load(weights_path)
        if (model.x_days, model.y_days) != (x_days, horizon):
            raise ValueError(
                f"{weights_path} holds a model with (x_days, y_days) = "
                f"({model.x_days}, {model.y_days}); the scorer expects "
                f"(x_days, horizon) = ({x_days}, {horizon})"
            )
        return model.predict

    return make


# One UDF object per (factory, horizon): a UDF pickles its function on
# first use, so a cached one pays that once, not on every plan build.
# Bounded, since a caller may make a new factory per request.
@functools.lru_cache(maxsize=32)
def scoring_udf(factory: ModelFactory, horizon: int = 92) -> Column:
    """Scalar Arrow UDF: ``array<float>`` X in, ``array<float>[horizon]``
    out. The model is built on the task's first batch (the closure's
    ``model`` list is pickled empty on the driver, which never runs the
    UDF, so every task unpickles it empty)."""
    model: list[ModelFn] = []

    @arrow_udf("array<float>")
    def score(x: pa.Array) -> pa.Array:
        if x.null_count:
            raise ValueError("the scorer got a null series")
        if not model:
            model.append(factory())
        n = len(x)
        if n == 0:
            return pa.array([], type=pa.list_(pa.float32()))
        widths = np.diff(x.offsets.to_numpy())
        if widths.min() != widths.max():
            raise ValueError(
                f"the scorer needs series of one width, got {widths.min()} "
                f"to {widths.max()}"
            )
        flat = x.flatten().to_numpy(zero_copy_only=False)
        y = model[0](flat.astype(np.float32, copy=False).reshape(n, -1))
        if y.shape != (n, horizon):
            raise ValueError(
                f"model returned shape {y.shape} for {n} series; "
                f"the scorer expects ({n}, {horizon})"
            )
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n + 1, dtype=np.int32) * horizon),
            pa.array(y.astype(np.float32, copy=False).ravel()),
        )

    return score


def score_dataframe(
    df: DataFrame,
    factory: ModelFactory,
    horizon: int = 92,
) -> DataFrame:
    """S.2 serving stage: adds ``y_pred`` (array<float>[horizon]) scored
    from ``X``."""
    return df.withColumn("y_pred", scoring_udf(factory, horizon)(F.col("X")))
