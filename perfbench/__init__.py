"""Benchmark for narowi_ocr_spark: three workloads driven through the
public API, with oracle checks and a separate traced run.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/run.py``.
"""
