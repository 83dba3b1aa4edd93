"""Benchmark for the cli_spark KG pipeline and its jelly-cli surface.

Run one workload with ``python3 perfbench/run.py --workload kg_build
--seed 1 --seconds 10 --trace 0``; see ``perfbench/README.md``.
"""
