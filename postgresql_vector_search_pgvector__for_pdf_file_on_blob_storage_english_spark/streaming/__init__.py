"""Structured Streaming variants of the ingest pipeline."""
