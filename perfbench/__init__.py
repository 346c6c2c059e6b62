"""Repository benchmark for the two-tier extraction engine.

Run one workload with `python3 perfbench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>` from the repository root; see
perfbench/README.md. Modules import only the standard library at top
level, so the benchmark's own process start stays cheap and the
generator workers stay independent of Spark.
"""
