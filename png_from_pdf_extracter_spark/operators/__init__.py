"""Job-level operators: salted repartition, quarantine split, anti-join
resume, row validation. All pure DataFrame->DataFrame functions built from
pyspark.sql builtins — no custom Catalyst rules (SURVEY.md §4).

This package re-exports only what the extraction job imports; the other
operator modules (``bloom``, ``merge``, ``ordering``, ``sessions``,
``temporal``) are imported from their submodule, so a job driver does not
load them."""

from .salting import (
    salted_repartition,
    salted_repartition_auto,
    salted_equi_join,
    max_key_share,
)
from .quarantine import split_quarantine
from .resume import completed_partitions, pending_only
from .validate import split_valid, validate_rows

__all__ = [
    "split_valid",
    "validate_rows",
    "salted_repartition",
    "salted_repartition_auto",
    "salted_equi_join",
    "max_key_share",
    "split_quarantine",
    "completed_partitions",
    "pending_only",
]
