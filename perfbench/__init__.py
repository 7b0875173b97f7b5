"""Extraction benchmark (see perfbench/run.py)."""
