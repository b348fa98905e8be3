"""Benchmark of the hbasewd_spark engine: ``ingest``, ``serve`` and
``pipeline`` workloads driven through the public API. Entry point:
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``perfbench/README.md``."""
