"""Pure-Python extraction kernel — no Spark imports anywhere in this package.

This is the analog of the reference's extraction core
(``src/services/job_processor.py:186-221`` MIME-part walk +
``src/services/pdf_converter.py:50-160`` per-document fan-out), re-designed as a
pure function ``extract(text, config) -> ExtractResult`` so it vectorizes over
Arrow batches inside a scalar ``pandas_udf`` over the ``text`` column and is
unit-testable without Spark.
"""

from .kernel import (
    ExtractorConfig,
    ExtractResult,
    Span,
    Unit,
    extract,
    extract_batch_lists,
)

__all__ = [
    "ExtractorConfig",
    "ExtractResult",
    "Span",
    "Unit",
    "extract",
    "extract_batch_lists",
]
