"""The reference 1-D CNN: NumPy backend, training feed, pandas_udf scoring."""
