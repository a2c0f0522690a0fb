"""Benchmark of the webtext validation engine (see README.md)."""
