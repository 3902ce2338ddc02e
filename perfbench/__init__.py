"""Benchmark of flink_state_eviction_spark; entry point ``perfbench/run.py``."""
