"""Sources: deterministic synthetic corpora + WARC/WET segment readers."""
