"""Steady end-to-end benchmark for bertopic_spark: index build, query
serving and incremental maintenance. Entry point: ``perfbench/run.py``."""
