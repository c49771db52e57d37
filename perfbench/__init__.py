"""Seeded end-to-end and per-layer benchmark of the engine's public API.

Run from the repository root:

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

See ``run.py`` for the workloads, the metrics and the output contract.
"""
