"""Benchmark of the streaming recommender, its serve path and the analytics registry (see README.md)."""
