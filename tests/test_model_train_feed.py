"""Training-feed tests (shapes/batching)."""

from __future__ import annotations

import numpy as np

from time_series_prediction_spark.model.train import training_batches
from time_series_prediction_spark.plans.preprocess import (
    clean_series,
    pre_processing,
    train_val_test_split,
)
from time_series_prediction_spark.sources.generate import generate_series_frame


def test_training_batches_shapes(spark):
    raw = generate_series_frame(spark, 50, seed=9)
    pre = pre_processing(clean_series(raw), "2020-03-31", serving=False)
    train, _, _ = train_val_test_split(pre)
    n = train.count()
    batches = list(training_batches(train, batch_size=16))
    assert sum(b[0].shape[0] for b in batches) == n
    for bx, by in batches:
        assert bx.shape[1] == 365 and by.shape[1] == 92
        assert bx.dtype == np.float32 and by.dtype == np.float32
    assert all(b[0].shape[0] == 16 for b in batches[:-1])

