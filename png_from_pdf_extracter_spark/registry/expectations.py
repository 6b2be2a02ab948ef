"""Driver queries over ``functions/expectations.py`` (one-pass data
expectations)."""

from png_from_pdf_extracter_spark.functions.expectations import (
    Check,
    expectation_report,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH m AS (
              SELECT count(*) AS n_rows,
                     count(*) FILTER (text IS NULL) AS null_text,
                     count(*) FILTER (lang IS NULL) AS null_lang,
                     count(doc_id) - count(DISTINCT doc_id) AS dup_id,
                     min(n_chars)::DOUBLE AS min_chars,
                     max(n_chars)::DOUBLE AS max_chars,
                     count(*) FILTER (lang IS NOT NULL AND lang NOT IN
                       ('en', 'de', 'fr', 'es', 'zh')) AS bad_lang,
                     avg(n_chars) AS mean_chars
              FROM documents
            )
            SELECT 'non_empty' AS check, '' AS col_name,
                   round(n_rows::DOUBLE, 6) AS observed,
                   n_rows > 0 AS passed FROM m
            UNION ALL SELECT 'complete', 'text',
                   round(null_text::DOUBLE, 6), null_text = 0 FROM m
            UNION ALL SELECT 'complete', 'lang',
                   round(null_lang::DOUBLE, 6), null_lang = 0 FROM m
            UNION ALL SELECT 'unique', 'doc_id',
                   round(dup_id::DOUBLE, 6), dup_id = 0 FROM m
            UNION ALL SELECT 'min_ge', 'n_chars',
                   round(min_chars, 6), min_chars >= 0 FROM m
            UNION ALL SELECT 'max_le', 'n_chars',
                   round(max_chars, 6), max_chars <= 1000000 FROM m
            UNION ALL SELECT 'in_set', 'lang',
                   round(bad_lang::DOUBLE, 6), bad_lang = 0 FROM m
            UNION ALL SELECT 'mean_between', 'n_chars',
                   round(mean_chars, 6),
                   mean_chars >= 10 AND mean_chars <= 100000 FROM m
        """)
def _q_expectations(spark, sf_dir):
    """Deequ-style dataset contract verification: seven declared checks
    over the documents table verified in ONE aggregation pass
    (functions/expectations.py); the report is stack-unpivoted from the
    single-row aggregate — N checks never cost N scans."""

    d = read(spark, sf_dir, "documents")
    return expectation_report(
        d,
        [
            Check("non_empty"),
            Check("complete", "text"),
            Check("complete", "lang"),
            Check("unique", "doc_id"),
            Check("min_ge", "n_chars", value=0),
            Check("max_le", "n_chars", value=1_000_000),
            Check("in_set", "lang", values=("en", "de", "fr", "es", "zh")),
            Check("mean_between", "n_chars", value=10, value2=100_000),
        ],
    )
