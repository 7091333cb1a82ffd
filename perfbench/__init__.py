"""Crawl-and-tokenize benchmark (see perfbench/README.md)."""
