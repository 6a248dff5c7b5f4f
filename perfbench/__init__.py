"""Benchmark for the docstrange_spark engine; run ``python3 perfbench/run.py --help``."""
