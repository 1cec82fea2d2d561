"""Benchmark harness for pcrawler_spark: workloads, checks and tracing.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.  See README.md.
"""
