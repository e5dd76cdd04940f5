"""Serving benchmark for the lintdb_spark multi-vector index."""
