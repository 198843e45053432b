"""boltspark benchmark: seeded workloads, output checks and a per-layer
trace; the entry point is perfbench/run.py."""
