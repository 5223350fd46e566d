"""Serving benchmark for newsleak_spark (see README.md)."""
