"""Tiling benchmark of the planetiler_spark engine (see README.md)."""
