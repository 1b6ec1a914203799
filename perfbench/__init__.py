"""Benchmark of the geowave_spark engine; see README.md."""
