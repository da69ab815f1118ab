"""CDC engine benchmark: workloads, tracing and correctness gate.

Run from the repository root: ``python3 perfbench/run.py --workload
backfill --seed 0 --seconds 12 --trace 0``. See ``perfbench/README.md``.
"""
