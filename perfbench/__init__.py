"""Crawl-engine benchmark: seeded workloads, output checks and metrics.

Run one workload at one seed with ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>`` from the repository
root; see ``perfbench/README.md``.
"""
