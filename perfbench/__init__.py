"""Benchmark harness for valar_spark; entry point: perfbench/run.py."""
