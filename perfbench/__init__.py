"""Seeded, layer-attributed benchmark of tsdownsample_spark (see run.py)."""
