"""Repository benchmark: crawl and query workloads over the engine (see run.py)."""
