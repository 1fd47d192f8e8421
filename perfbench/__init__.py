"""spark-extract benchmark harness (see run.py)."""
