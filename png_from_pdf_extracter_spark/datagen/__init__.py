"""Deterministic synthetic-data generation (seeded; no external data).

``transcripts.py`` builds the primary input table from FIXTURES.md §1 and the
golden ``expected_turns`` oracle from §3, using the same pure kernel the
pipeline runs — the goldens in tests/test_kernel_golden.py anchor that kernel
to human-checked values.
"""

from .transcripts import (
    GenConfig,
    SYNTH_EXTRACTOR_CFG,
    ROLE_WHITELIST,
    conv_rows,
    expected_for_rows,
    gen_pandas,
)

__all__ = [
    "GenConfig",
    "SYNTH_EXTRACTOR_CFG",
    "ROLE_WHITELIST",
    "conv_rows",
    "expected_for_rows",
    "gen_pandas",
]
