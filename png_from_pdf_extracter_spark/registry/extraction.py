"""Driver queries over the extraction plan (``plans/``): rows-only, the kernel
is not SQL-expressible (SURVEY.md §2.4)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig
from png_from_pdf_extracter_spark.operators.ordering import (
    explode_units,
    reassemble_turns,
)
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.sources import generate_transcripts


@query(pin="tests/test_pipeline_equality.py::test_per_turn_text_equality")
def _q_extract_flagship(spark, sf_dir):
    """The extraction kernel itself (the pandas UDF over ``text``) — not
    SQL-expressible (the kernel is the 'reference extractor'); correctness
    is gated by the tier-2 per-turn equality suite in tests/ instead."""
    params = JobParams(n_buckets=16, num_partitions=8)
    transcripts = generate_transcripts(spark, GenConfig(n_convs=60))
    out = extract_turns(spark, transcripts, params)
    return out.select(
        "conv_id", "turn_idx", "status", "error_class", "extracted_text"
    )


@query(
    pin="tests/test_pipeline_equality.py::test_explode_reassemble_roundtrip"
)
def _q_extract_units_roundtrip(spark, sf_dir):
    """Explode->window-reassembly roundtrip over extraction units. The
    ``spans`` struct array is serialized with ``to_json`` — the driver's
    canonicalizer sorts result rows with pandas and chokes on list-typed
    cells (the round-1 ERR), and a JSON string survives both the sort and
    the value hash."""
    params = JobParams(n_buckets=16, num_partitions=8)
    transcripts = generate_transcripts(spark, GenConfig(n_convs=40))
    extracted = extract_turns(spark, transcripts, params)
    out = reassemble_turns(explode_units(extracted))
    return out.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        F.to_json("spans").alias("spans_json"),
        "n_units",
    )
