"""Seeded, per-layer benchmark for the URI-pipeline engine (see run.py)."""
