"""Repository benchmark: `search` and `stream_load` workloads plus a traced
per-layer run. Entry point: ``python3 perfbench/run.py --help``."""
