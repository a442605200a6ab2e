"""Extraction benchmark: seeded corpora, closed-loop Spark passes, traced layer split.

Run from the repository root: ``python3 perfbench/run.py --workload NAME
--seed N --seconds S --trace 0|1``. See ``perfbench/README.md``.
"""
