"""Seeded end-to-end benchmark of the sketch library (see run.py)."""
