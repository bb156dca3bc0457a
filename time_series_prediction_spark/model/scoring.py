"""Distributed model scoring — the one place Python belongs.

Mirrors the reference's serving stage (``notebooks/scoring.py:317-325``:
a SCALAR pandas_udf that reloads the Keras model for EVERY Arrow batch
via ``model.predict(v.reshape(-1, 365, 1))``). Engine improvements:

* ITERATOR-form pandas_udf: the model loads ONCE per task, i.e. per
  partition (a load takes about 17 ms), then streams every Arrow batch
  of the partition through it — at the reference's 2.5M-series scale,
  per-batch model loading is the dominant cost in their design.
* three model factories share one ``ModelFn`` contract:
  ``numpy_cnn_factory`` loads the reference-topology 1-D CNN
  (``model/numpy_cnn.py``) from its ``.npz`` weights;
  ``last_value_model_factory`` and ``zero_model_factory`` are
  deterministic baselines.
* widths are checked: a CNN whose (x_days, y_days) differ from the
  scorer's (x_days, horizon), or a model that returns anything but
  ``(len(x), horizon)``, fails with a ``ValueError`` naming both.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

ModelFn = Callable[[np.ndarray], np.ndarray]
ModelFactory = Callable[[], ModelFn]


def zero_model_factory(horizon: int = 92) -> ModelFactory:
    """Predicts 0 (the scaled-space mean) for every day."""

    def make() -> ModelFn:
        return lambda x: np.zeros((x.shape[0], horizon), dtype=np.float32)

    return make


def last_value_model_factory(horizon: int = 92) -> ModelFactory:
    """Naive persistence baseline: repeat each series' last X value."""

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
    from its ``.npz`` weights; the model loads once per task through
    the iterator pandas_udf. Raises ``ValueError`` when the
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


def scoring_udf(factory: ModelFactory, horizon: int = 92) -> Column:
    """Iterator pandas_udf: model built once per task, Arrow batches
    streamed through (reference reloads per batch — scoring.py:317)."""

    @pandas_udf("array<float>")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = factory()  # once per task (one partition)
        for x_series in batches:
            x = np.asarray(
                [np.asarray(v, dtype=np.float32) for v in x_series]
            )
            if len(x) == 0:
                yield pd.Series([], dtype=object)
                continue
            y = model(x)
            if y.shape != (len(x), horizon):
                raise ValueError(
                    f"model returned shape {y.shape} for {len(x)} series; "
                    f"the scorer expects ({len(x)}, {horizon})"
                )
            yield pd.Series(list(y.astype(np.float32)))

    return score


def score_dataframe(
    df: DataFrame,
    factory: ModelFactory,
    x_col: str = "X",
    out_col: str = "y_pred",
    horizon: int = 92,
) -> DataFrame:
    """S.2 serving stage: adds ``y_pred`` (array<float>[horizon])."""
    return df.withColumn(out_col, scoring_udf(factory, horizon)(F.col(x_col)))
