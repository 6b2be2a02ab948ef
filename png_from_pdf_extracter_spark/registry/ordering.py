"""Driver queries over ``operators/ordering.py`` (stable ordering and turn
reassembly)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.operators.ordering import (
    conversation_rollup,
    explode_units,
    reassemble_turns,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    documents_as_transcripts,
    read,
)
from png_from_pdf_extracter_spark.sources.transcripts import SPAN_SCHEMA


@query(oracle="""
            WITH t AS (
              SELECT source AS conv_id,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
                       AS turn_idx,
                     text
              FROM documents
            )
            SELECT conv_id,
                   string_agg(text, e'\n\n' ORDER BY turn_idx) AS conv_text,
                   count(*)::INTEGER AS n_turns,
                   sum(length(text))::BIGINT AS total_chars
            FROM t GROUP BY conv_id
        """)
def _q_conv_rollup(spark, sf_dir):
    """Conversation-level reassembly under stable turn ordering (the
    'single reply regardless of size' semantics, ref spec.md:80)."""
    t = documents_as_transcripts(spark, sf_dir)
    turns = t.select(
        "conv_id", "turn_idx", F.col("text").alias("extracted_text")
    )
    return conversation_rollup(turns)


@query(oracle="""
            WITH w AS (
              SELECT source, doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> length(x) > 0) AS w
              FROM documents
            ),
            u AS (
              SELECT source, doc_id,
                     unnest(list_transform(
                       range(0, cast(ceil(len(w) / 10.0) AS INTEGER)),
                       i -> {'unit_idx': i + 1,
                             'unit_text': array_to_string(
                               w[i * 10 + 1 : i * 10 + 10], ' ')})) AS u
              FROM w WHERE len(w) > 0
            )
            SELECT source AS conv_id, doc_id::INTEGER AS turn_idx,
                   string_agg(u.unit_text, e'\n\n' ORDER BY u.unit_idx)
                     AS extracted_text,
                   count(*)::INTEGER AS n_units
            FROM u GROUP BY source, doc_id
        """)
def _q_units_roundtrip_sql(spark, sf_dir):
    """The explode_units -> reassemble_turns operator pair under a DuckDB
    oracle: deterministic 10-word units are built from documents with
    builtins (no extraction kernel), fanned out per-unit, then reassembled
    under stable unit ordering — proving the roundtrip's ordering/joining
    semantics value-for-value (the kernel-backed twin is rows-only)."""
    d = read(spark, sf_dir, "documents")
    w = tokens(F.col("text"))
    d = d.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit(0).alias("partition_id"),
        w.alias("w"),
    ).filter(F.size("w") > 0)
    empty_spans = F.array().cast(SPAN_SCHEMA)
    units = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("w") / F.lit(10.0)).cast("int") - 1),
        lambda i: F.struct(
            (i + 1).cast("int").alias("unit_idx"),
            F.array_join(F.slice(F.col("w"), i * 10 + 1, 10), " ").alias(
                "unit_text"
            ),
            empty_spans.alias("spans"),
        ),
    )
    framed = d.select("conv_id", "turn_idx", "partition_id", units.alias("units"))
    out = reassemble_turns(explode_units(framed))
    return out.select("conv_id", "turn_idx", "extracted_text", "n_units")
