"""Driver queries over ``operators/bloom.py`` (Bloom-filter semi/anti joins)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text
from png_from_pdf_extracter_spark.operators.bloom import bloom_anti_join
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import FP_SQL, read


@query(oracle="""
            WITH seen AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase' AND value > 90
            )
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   round(sum(value), 2) AS sum_value
            FROM events e
            WHERE NOT EXISTS (
              SELECT 1 FROM seen s WHERE s.user_id = e.user_id
            )
            GROUP BY event_type
        """)
def _q_bloom_antijoin(spark, sf_dir):
    """Bloom-prefiltered anti-join (operators/bloom.py): events of users
    with no big purchase (value > 90). The 100 TB resume story — the seen
    set is too big to broadcast, so a fixed-size bitmap built with a
    distributed bit_or prefilters the probe MAP-SIDE and only candidates
    shuffle for exact verification. Results are exact (no false
    negatives), hence a plain NOT EXISTS oracle."""

    e = read(spark, sf_dir, "events")
    seen = e.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 90)
    ).select("user_id")
    unseen_events = bloom_anti_join(e, seen, "user_id", n_bits=1 << 16)
    return unseen_events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(oracle=f"""
            WITH old AS (SELECT * FROM documents WHERE doc_id < 250),
            new AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
              WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ',
                     lang, source, n_chars
              FROM old WHERE doc_id % 3 = 0
            ),
            old_fp AS (SELECT {FP_SQL} AS fp FROM old)
            SELECT lang,
                   count(*) AS n_new_unique,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM (SELECT lang, n_chars, {FP_SQL} AS fp FROM new) n
            WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
            GROUP BY lang
        """)
def _q_incr_dedup(spark, sf_dir):
    """Incremental corpus dedup: drop NEW documents whose content
    fingerprint already exists in the ingested corpus — the cross-run
    composition of ``text.fingerprint`` and the Bloom-prefiltered
    anti-join (at 10^12 docs the seen-fingerprint set is way past
    broadcast size; the bitmap prefilter keeps the new batch's shuffle
    bounded to candidates). Exact despite the probabilistic prefilter."""

    d = read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 250)
    # the new batch: novel docs + a whitespace-mangled re-ingest slice of
    # the old corpus (fingerprint-equal after normalization) — so the
    # oracle proves duplicates actually get DROPPED, not just grouped
    reingest = old.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "), F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    new = d.filter(F.col("doc_id") >= 250).unionByName(reingest)
    fresh = bloom_anti_join(
        new.withColumn("fp", text.fingerprint("text")),
        old.select(text.fingerprint("text").alias("fp")),
        "fp",
        n_bits=1 << 16,
    )
    return fresh.groupBy("lang").agg(
        F.count("*").alias("n_new_unique"),
        F.sum("n_chars").alias("sum_chars"),
    )
