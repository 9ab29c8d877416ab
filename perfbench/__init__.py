"""Seeded, output-checked benchmark of the pipeline311_spark engine."""
