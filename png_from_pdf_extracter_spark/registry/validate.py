"""Driver queries over ``operators/validate.py`` (row validation)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators import validate_rows
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT violation, count(*) AS n FROM (
              SELECT CASE
                WHEN conv_id IS NULL OR length(conv_id) = 0
                  THEN 'conv_id_empty'
                WHEN turn_idx IS NULL OR turn_idx < 0
                  THEN 'turn_idx_negative'
                WHEN role IS NULL
                  OR role NOT IN ('user', 'assistant', 'system', 'tool')
                  THEN 'role_invalid'
                WHEN text IS NULL THEN 'text_null'
                WHEN strlen(text) > 5000 THEN 'text_oversized'
                WHEN ts IS NULL THEN 'ts_null'
                ELSE NULL END AS violation
              FROM (
                SELECT
                  CASE WHEN doc_id % 13 = 0 THEN '' ELSE source END
                    AS conv_id,
                  CASE WHEN doc_id % 11 = 0 THEN -1
                       ELSE (doc_id % 50)::INTEGER END AS turn_idx,
                  CASE WHEN doc_id % 7 = 0 THEN 'robot' ELSE 'user' END
                    AS role,
                  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE text END AS text,
                  CASE WHEN doc_id % 19 = 0 THEN NULL
                       ELSE TIMESTAMP '2026-01-01 00:00:00' END AS ts
                FROM documents
              )
            ) GROUP BY violation
        """)
def _q_validate(spark, sf_dir):
    """CHECK-constraint validation as a when-chain (operators/validate.py,
    the reference's __post_init__ rules): documents are deterministically
    mangled into a dirty transcripts-shaped frame, then each row reports
    its FIRST violated rule; counts per violation class."""
    d = read(spark, sf_dir, "documents")
    t = d.select(
        F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(
            F.col("source")
        ).alias("conv_id"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(-1))
        .otherwise(F.col("doc_id") % 50)
        .cast("int")
        .alias("turn_idx"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("robot"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.lit("").alias("tool"),
        F.when(
            F.col("doc_id") % 19 == 0, F.lit(None).cast("timestamp")
        ).otherwise(F.lit("2026-01-01 00:00:00").cast("timestamp")).alias("ts"),
    )
    return (
        validate_rows(t, max_text_bytes=5000)
        .groupBy("violation")
        .agg(F.count("*").alias("n"))
    )
