"""End-to-end and per-layer benchmark of the log-shipping pipeline and
the batch query registry.  Entry point: ``python3 perfbench/run.py``."""
