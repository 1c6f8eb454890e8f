"""Seeded benchmark for inxs_spark: workloads ``extract``, ``curate`` and
``analytics``. Run one workload with ``python3 perfbench/run.py``."""
