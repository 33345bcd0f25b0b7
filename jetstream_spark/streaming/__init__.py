"""Structured Streaming: the standing ingest pipeline and the streaming analytics."""
