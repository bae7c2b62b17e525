"""Benchmark of the engine's nightly DAG and CDC merge stream; run it
with ``python3 perfbench/run.py --help``."""
