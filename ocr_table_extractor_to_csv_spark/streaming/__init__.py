"""Structured Streaming: event-time windowed aggregation."""
