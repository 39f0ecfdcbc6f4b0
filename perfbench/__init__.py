"""Crawl-frontier benchmark (see run.py)."""
