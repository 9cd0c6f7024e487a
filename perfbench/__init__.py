"""Benchmark of the template pipeline and the crawl loop (see README.md)."""
