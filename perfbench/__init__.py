"""Seeded end-to-end benchmark of the clickstream engine (run.py)."""
