"""The reference 1-D CNN: NumPy backend, training feed, scalar Arrow UDF scoring."""
