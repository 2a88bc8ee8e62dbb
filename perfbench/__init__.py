"""Crawl benchmark package: run with ``python3 perfbench/run.py``."""
