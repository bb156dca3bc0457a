"""Training feed (reference T.3).

The reference feeds Keras through Petastorm: DataFrame → materialized
parquet cache → ``make_tf_dataset`` (reference
``notebooks/training_new_petastorm.py:241-303``). The engine's feed is
``training_batches``: a driver-side iterator of (X, y) numpy batches
via ``toLocalIterator`` (bounded memory: one partition at a time). That
is what the reference's single-node trainer (one model on the driver)
needs; ``NumpyCNN1D.fit`` consumes it directly.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame


def training_batches(
    train: DataFrame, batch_size: int = 200
) -> Iterator[tuple[np.ndarray, np.ndarray]]:
    """Yield (X, y) numpy batches without collecting the dataset:
    partitions stream through the driver one at a time."""
    buf_x: list[np.ndarray] = []
    buf_y: list[np.ndarray] = []
    for row in train.select("X", "y").toLocalIterator(prefetchPartitions=True):
        buf_x.append(np.asarray(row["X"], dtype=np.float32))
        buf_y.append(np.asarray(row["y"], dtype=np.float32))
        if len(buf_x) == batch_size:
            yield np.stack(buf_x), np.stack(buf_y)
            buf_x, buf_y = [], []
    if buf_x:
        yield np.stack(buf_x), np.stack(buf_y)
