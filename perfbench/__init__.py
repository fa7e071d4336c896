"""Repo benchmark: see perfbench/run.py."""
