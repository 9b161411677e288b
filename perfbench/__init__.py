"""Seeded end-to-end and per-layer benchmark of the denrl_spark program."""
