"""Steady end-to-end and per-layer benchmark for konohadataplatform_spark.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>`` from the repository root; see
``perfbench/run.py`` for the contract and ``BENCHMARK.json`` for the
workloads and metrics.
"""
