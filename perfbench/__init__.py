"""Benchmark driver for the jena_geo_spark engine (see README.md)."""
