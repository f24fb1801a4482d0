"""Benchmark for hubverse-spark: two closed-loop workloads over the public
API, each checked for correct output. Run ``python3 perfbench/run.py --help``.
"""
