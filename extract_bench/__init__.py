"""Extraction benchmark for docling_core_spark (see README.md)."""
