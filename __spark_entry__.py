"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   flagship extraction pipeline over sf0.001 parquet.
``queries()``      one entry per implemented operator (SURVEY.md §2 + the
                   training-data ops), each (spark, sf_dir) -> DataFrame.
``oracle_sql()``   DuckDB-runnable ANSI SQL twins. Non-SQL-expressible ops
                   (the extraction-kernel UDF, multimodal stubs,
                   streaming) are rows-only checked by the test they pin.

Each query is declared once, by ``@query`` at its builder in
``png_from_pdf_extracter_spark/registry/<domain>.py``; both dicts below are
derived from that registry. Column names are aliased identically on both
sides — the driver sorts columns by name before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from png_from_pdf_extracter_spark.datagen import GenConfig
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.registry import load
from png_from_pdf_extracter_spark.registry.common import (
    documents_as_transcripts,
)
from png_from_pdf_extracter_spark.sources import generate_transcripts


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over sf0.001 — documents mapped to
    the transcripts shape, plus a slice of synthetic multi-payload
    transcripts, through the full salted extraction plan (one pandas UDF over
    ``text``, per-turn columns derived by builtins)."""
    sf_dir = "/root/testdata/sf0.001"
    params = JobParams(n_buckets=16, num_partitions=8)
    docs = documents_as_transcripts(spark, sf_dir)
    synth = generate_transcripts(spark, GenConfig(n_convs=40))
    transcripts = docs.unionByName(synth)
    out = extract_turns(spark, transcripts, params)
    return out.select(
        "conv_id", "turn_idx", "status", "error_class", "extracted_text",
        "n_units", "partition_id",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: q.build for n, q in load().items()}


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in load().items() if q.oracle is not None}
