"""Commit-path benchmark for the CDC engine (see README.md)."""
