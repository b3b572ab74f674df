"""Standalone benchmark for search_engine_spark (see README.md here)."""
