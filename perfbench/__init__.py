"""Standalone benchmark of the tersets_spark engine (see README.md)."""
