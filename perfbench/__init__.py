"""Benchmark harness for nimbus_crawler_spark: three workloads, end-to-end
metrics from untraced runs, per-layer metrics from a traced run.

Run from the repository root:

    python3 perfbench/run.py --workload mega_round --seed 1 --seconds 10 --trace 0
"""
