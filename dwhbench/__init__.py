"""Repo benchmark: see README.md in this directory."""
