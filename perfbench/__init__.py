"""sparc benchmark harness: four seeded workloads, end-to-end metrics from
untraced runs and per-layer self times from a separate traced run.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
