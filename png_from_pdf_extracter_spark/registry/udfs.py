"""Driver queries over ``functions/udfs.py`` (Python/pandas UDF paths)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text, udfs
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import NTOK_SQL, read


@query(oracle=f"""
            SELECT doc_id, {NTOK_SQL}::BIGINT AS n_tokens_arrow,
                   {NTOK_SQL}::BIGINT AS n_tokens_builtin
            FROM documents WHERE doc_id < 300
        """)
def _q_pandas_udf_tokens(spark, sf_dir):
    """The scalar Arrow-UDF boundary, value-checked: the @pandas_udf token
    counter and the JVM-builtin twin side by side — the oracle asserts
    both equal DuckDB's regex count, proving the Arrow path is
    value-exact (the contract the extraction kernel rides on)."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        udfs.token_count_arrow("text").alias("n_tokens_arrow"),
        text.token_count("text").alias("n_tokens_builtin"),
    )


@query(oracle="""
            SELECT user_id, event_id,
                   CASE WHEN stddev_samp(value) OVER w IS NULL
                          OR stddev_samp(value) OVER w = 0 THEN NULL
                        ELSE round((value - avg(value) OVER w)
                                   / stddev_samp(value) OVER w, 4)
                   END AS zscore
            FROM events WHERE event_type = 'view'
            WINDOW w AS (PARTITION BY user_id)
        """)
def _q_grouped_zscore(spark, sf_dir):
    """The grouped-map applyInPandas boundary, value-checked: per-user
    z-score normalization vs SQL window aggregates (null when the group
    has no spread)."""
    e = read(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    out = udfs.zscore_per_group(
        e.select("user_id", "event_id", "value"), "user_id", "value"
    )
    return out.select("user_id", "event_id", "zscore")


@query(oracle="""
            SELECT doc_id,
                   length(t)::INTEGER AS len_before,
                   length(nfc_normalize(t))::INTEGER AS len_after,
                   nfc_normalize(t) AS normalized
            FROM (
              SELECT doc_id,
                     'cafe' || chr(769) || ' ' || substring(text, 1, 40)
                       || ' re' || chr(769) || 'sume' || chr(769) AS t
              FROM documents WHERE doc_id < 200
            )
        """)
def _q_unicode_normalize(spark, sf_dir):
    """Unicode NFC normalization (udfs.nfc_normalize pandas UDF — Spark
    has no NFC builtin) vs DuckDB's native nfc_normalize. Decomposed
    text (combining acute, U+0301) is derived per-doc so composition
    visibly shortens it; byte-dedup correctness at scale depends on
    normalizing first."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    decomposed = F.concat(
        F.lit("cafe"),
        F.lit("́"),
        F.lit(" "),
        F.substring("text", 1, 40),
        F.lit(" re"),
        F.lit("́"),
        F.lit("sume"),
        F.lit("́"),
    )
    framed = d.select("doc_id", decomposed.alias("t"))
    return framed.select(
        "doc_id",
        F.length("t").alias("len_before"),
        F.length(udfs.nfc_normalize("t")).alias("len_after"),
        udfs.nfc_normalize("t").alias("normalized"),
    )
