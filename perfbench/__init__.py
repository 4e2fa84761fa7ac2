"""Repository benchmark: three extraction workloads, checked outputs, traced layers.

Run ``python3 perfbench/run.py --workload extract_warc --seed 1 --seconds 10
--trace 0`` from the repository root; see ``perfbench/run.py``.
"""
