"""Ingest benchmark for filters_spark: three CDC ingest workloads, an
independent row-wise oracle, and a traced per-layer mode.

Entry point: ``python3 ingestbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root.
"""
