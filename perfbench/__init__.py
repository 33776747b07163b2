"""Repository benchmark: seeded workloads, end-to-end metrics and a
per-layer trace. Entry point: ``python3 perfbench/run.py --help``."""
