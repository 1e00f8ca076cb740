"""Seeded, oracle-checked benchmark of yetisearch_spark (see run.py)."""
