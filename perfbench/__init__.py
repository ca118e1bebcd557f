"""Seeded end-to-end benchmark for pqstream_spark (see README.md)."""
