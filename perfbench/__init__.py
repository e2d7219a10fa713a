"""Benchmark for steam_data_pipeline_spark; ``perfbench/run.py`` is the command."""
