"""Benchmark for ocr_corrector_spark; entry point ``perfbench/run.py``."""
