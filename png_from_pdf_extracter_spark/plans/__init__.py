"""The flagship DataFrame plan (scan -> resume anti-join -> whitelist filter ->
salted repartition -> one struct-returning extraction UDF over ``text`` ->
builtin projection -> bucket rebalance -> ordered outputs) plus the
per-partition lineage/metrics aggregation."""

from .extract_plan import JobParams, extract_turns, run_job
from .metrics import partition_metrics, METRICS_SCHEMA

__all__ = [
    "JobParams",
    "extract_turns",
    "run_job",
    "partition_metrics",
    "METRICS_SCHEMA",
]
