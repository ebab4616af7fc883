"""Seeded benchmark for the K-Means and curation engine (see run.py)."""
