"""Seeded end-to-end and per-layer benchmark of the datax_spark engine.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see README.md for the workloads, metrics and
why each was chosen.
"""
