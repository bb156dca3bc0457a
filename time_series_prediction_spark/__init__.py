"""time_series_prediction_spark — a PySpark-native analytics engine.

A ground-up re-implementation of the query and data-processing
capabilities of the reference repo ``pdemeulenaer/Time-series-prediction``
(cashflow time-series forecasting pipeline), expressed Spark-first:

* native Column expressions / SQL window functions instead of
  row-at-a-time Python UDFs (the reference keeps per-series math in
  opaque ``F.udf`` bodies — see reference ``notebooks/utils.py:189-234``),
* Catalyst-friendly predicates so pushdown / pruning / codegen apply,
* Arrow-vectorized UDFs only where Python wins: model inference, and
  the per-series NumPy kernels that replace interpreted array lambdas
  bit for bit,
* plus the large-scale training-data-pipeline operators a 100 TB
  corpus needs: dedup (exact / MinHash-LSH / SimHash), similarity
  search, text analysis, multimodal column plumbing.

Layout:
    session    — SparkSession factory (Arrow, AQE, UTC)
    sources/   — IO (parquet/csv/json), seeded synthetic generator
    operators/ — time-series ops, reshape, dedup, similarity, text
    plans/     — end-to-end pipelines + relational query definitions
    streaming/ — Structured Streaming paths for the events table
    model/     — train/score scaffolding (TF-optional, stub scorer)
"""

from time_series_prediction_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
