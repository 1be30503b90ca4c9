"""Benchmark for openmsistream_spark; entry point: perfbench/run.py."""
