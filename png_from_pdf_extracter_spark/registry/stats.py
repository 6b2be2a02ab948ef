"""Driver queries over ``functions/stats.py`` (exact weighted quantile
and rolling median)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text
from png_from_pdf_extracter_spark.functions.stats import (
    rolling_median,
    weighted_quantile,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    NTOK_SQL,
    read,
)


@query(oracle=f"""
            WITH base AS (
              SELECT lang, n_chars AS len_chars,
                     {NTOK_SQL} AS w
              FROM documents
            ),
            m AS (
              SELECT lang, len_chars,
                     sum(w) OVER (PARTITION BY lang
                                  ORDER BY len_chars ASC, w ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cumw,
                     sum(w) OVER (PARTITION BY lang) AS total
              FROM base
            )
            SELECT lang, max(total)::BIGINT AS total_w,
                   min(len_chars) AS wq_value
            FROM m WHERE cumw * 2 >= total * 1
            GROUP BY lang
        """)
def _q_weighted_median(spark, sf_dir):
    """Exact token-weighted median of document length per language
    (functions/stats.py weighted_quantile): the n_chars value below
    which half the corpus TOKENS sit — integer cumulative weights, the
    quantile given as a rational, zero float comparisons."""

    d = read(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.col("n_chars").alias("len_chars"),
        text.token_count("text").alias("w"),
    )
    return weighted_quantile(
        base, "len_chars", "w", group_cols=("lang",)
    )


@query(oracle="""
            WITH q AS (
              SELECT user_id, event_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
            ),
            framed AS (
              SELECT user_id, event_id,
                     list_sort(list(v) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                     )) AS fr
              FROM q
            )
            SELECT user_id, event_id,
                   fr[CAST(ceil(len(fr) / 2.0) AS INT)] AS med_q
            FROM framed
        """)
def _q_rolling_median(spark, sf_dir):
    """Exact rolling lower median of the event value over the trailing
    5 events per user (functions/stats.py rolling_median): per-frame
    sorted-array pick on quantized BIGINTs — no averaging, hash-exact;
    frame bounded by the constant window width."""

    ev = read(spark, sf_dir, "events")
    return rolling_median(
        ev, ("user_id",), ("ts", "event_id"), "value", window_rows=5
    ).select("user_id", "event_id", "med_q")
