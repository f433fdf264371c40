"""Seeded benchmark of the feature-store engine; entry point ``perfbench/run.py``."""
