"""Benchmark for searchengine_spark; see README.md."""
