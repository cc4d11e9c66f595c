"""Job-level benchmark for the extraction job (see run.py)."""
