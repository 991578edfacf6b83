"""Workload benchmark for chainweb-data-spark: ``python3 perfbench/run.py``
(see ``perfbench/README.md``)."""
