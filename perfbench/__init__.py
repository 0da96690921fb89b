"""Seeded end-to-end benchmark of the transcript pipeline (see run.py)."""
