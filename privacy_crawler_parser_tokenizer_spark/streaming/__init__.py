"""Structured Streaming jobs: incremental parse/tokenize, watermarked
windowed aggregation, exact dedup, and a crawl_log monitor."""
