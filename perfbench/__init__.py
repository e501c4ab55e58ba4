"""Seeded extract + crawl benchmark for crawl4ai_spark (see README.md)."""
