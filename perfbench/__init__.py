"""Seeded, oracle-checked benchmark for ubparquet_spark (see README.md)."""
