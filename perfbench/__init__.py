"""Repository benchmark: seeded inputs, workloads, tracing and checks.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; the workloads and metrics are
declared in ``BENCHMARK.json`` and described in ``run.py``,
``workloads.py`` and ``layers.py``.
"""
