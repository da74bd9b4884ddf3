"""Frontier benchmark harness (see README.md)."""
