"""Readers and SQL fragments shared by several registry domains."""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table into the transcripts shape (conv_id, turn_idx,
    role, text, tool, ts) so the flagship runs over real parquet input."""
    d = read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return d.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(_dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)).alias("ts"),
    )


SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
    WHERE len(w) >= 3
  )
)
"""

_STOP_EN = "the|and|of|to|is|in|that|it|for|on"

_LANGS_SQL = {
    "en": _STOP_EN,
    "de": "der|die|das|und|ist|nicht|ein|zu|mit|von",
    "fr": "le|la|les|et|est|une|que|des|pour|dans",
    "es": "el|los|las|es|una|que|por|para|con|del",
}

_HITS = {
    l: f"length(regexp_extract_all(lower(text), '\\b(?:{p})\\b'))"
    for l, p in _LANGS_SQL.items()
}

_BEST = f"greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']}, {_HITS['es']})"

LANG_CASE = (
    f"CASE WHEN {_BEST} = 0 THEN 'und' "
    f"WHEN {_HITS['en']} = {_BEST} THEN 'en' "
    f"WHEN {_HITS['de']} = {_BEST} THEN 'de' "
    f"WHEN {_HITS['fr']} = {_BEST} THEN 'fr' "
    f"ELSE 'es' END"
)

TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

FP_SQL = (
    "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
)

NTOK_SQL = f"length(regexp_extract_all(text, '{TOKEN_RE_SQL}'))"

NSTOP_SQL = (
    f"length(regexp_extract_all(lower(text), '\\b(?:{_STOP_EN}|as|with|was|at|by|an|be|this|are|or)\\b'))"
)

# floor-quantized 4dp, like text.quality_score: round() flips on exact
# .00005 boundaries across engines; floor of the identical double never
QUALITY_SQL = (
    f"floor((0.4::DOUBLE * least({NTOK_SQL}::DOUBLE / 100.0, 1.0::DOUBLE)"
    f" + 0.3::DOUBLE * (CASE WHEN length(text) > 0 THEN"
    f" length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE"
    f" / length(text) ELSE 0.0::DOUBLE END)"
    f" + 0.3::DOUBLE * least((CASE WHEN {NTOK_SQL} > 0 THEN"
    f" {NSTOP_SQL}::DOUBLE / {NTOK_SQL} ELSE 0.0::DOUBLE END) * 5.0::DOUBLE,"
    f" 1.0::DOUBLE))::DOUBLE * 10000.0) / 10000.0"
)
