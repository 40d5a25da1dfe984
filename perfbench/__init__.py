"""Benchmark of the kaflow_spark engine: archive replay through ``App``
and a declared-query mix. Entry point: ``python3 perfbench/run.py``."""
