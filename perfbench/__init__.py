"""The lakehouse benchmark: seeded workloads driven against the
project's user-facing entry points, with output checks and a traced
per-layer run. Entry point: ``python3 perfbench/run.py``."""
