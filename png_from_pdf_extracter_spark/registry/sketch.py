"""Driver queries over ``functions/sketch.py`` (mergeable sketches)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import sketch as sk
from png_from_pdf_extracter_spark.functions.sketch import (
    heavy_hitters,
    kmv_build,
    kmv_estimate,
    kmv_set_ops,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH toks AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            depths AS (SELECT unnest(range(4)) AS d),
            cells AS (
              SELECT d,
                     CAST(concat('0x', substr(
                       md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8))
                       AS BIGINT) % 512 AS w
              FROM toks, depths
            ),
            sketch AS (SELECT d, w, count(*) AS cnt
                       FROM cells GROUP BY d, w),
            top AS (
              SELECT tok, count(*) AS exact FROM toks GROUP BY tok
              ORDER BY exact DESC, tok ASC LIMIT 20
            ),
            icells AS (
              SELECT tok, exact, d,
                     CAST(concat('0x', substr(
                       md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8))
                       AS BIGINT) % 512 AS w
              FROM top, depths
            )
            SELECT tok AS item, min(cnt) AS est, exact
            FROM icells JOIN sketch USING (d, w)
            GROUP BY tok, exact
        """)
def _q_cms_freq(spark, sf_dir):
    """Count-min sketch (functions/sketch.py): the mergeable bounded-state
    frequency sketch next to the exact heavy-hitters query — at 100 TB the
    distinct-term state is the problem, the CMS caps it at depth x width
    cells. All-integer md5 cell hashing makes the sketch AND its estimates
    bit-exact across engines, so the oracle rebuilds the identical sketch
    in DuckDB. Estimates for the exact top-20 tokens, overestimate-only by
    construction. One combinable sketch aggregate + one tiny broadcast."""

    d = read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            tokens(F.lower(F.col("text")))
        ).alias("tok")
    )
    cms = sk.cms_build(toks, "tok", depth=4, width=512)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    w = Window.orderBy(F.desc("exact"), F.asc("tok"))
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    est = sk.cms_estimate(cms, top, "tok", depth=4, width=512)
    return est.join(
        top.select(F.col("tok").alias("item"), "exact"), "item"
    ).select("item", "est", "exact")


@query(oracle="""
            WITH ha AS (
              SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_id % 2 = 0
            ),
            hb AS (
              SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_id % 2 = 1
            ),
            ka AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM ha
              QUALIFY rank <= 64
            ),
            kb AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM hb
              QUALIFY rank <= 64
            ),
            hu AS (SELECT h FROM ka UNION SELECT h FROM kb),
            ku AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM hu
              QUALIFY rank <= 64
            ),
            ea AS (
              SELECT count(*)::BIGINT AS n_a_seen,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_a
              FROM ka
            ),
            eb AS (
              SELECT count(*)::BIGINT AS n_b_seen,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_b
              FROM kb
            ),
            eu AS (
              SELECT count(*)::BIGINT AS union_k,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_union
              FROM ku
            ),
            inter AS (
              SELECT count(*)::BIGINT AS inter_in_k FROM ku
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)
            )
            SELECT n_a_seen, n_b_seen, est_a, est_b, est_union,
              inter_in_k, union_k,
              floor(inter_in_k::DOUBLE / union_k::DOUBLE * 1e6) / 1e6
                AS jaccard_q6,
              CAST(floor(inter_in_k::DOUBLE / union_k::DOUBLE
                         * est_union::DOUBLE) AS BIGINT)
                AS est_intersection
            FROM ea, eb, eu, inter
        """)
def _q_kmv_setops(spark, sf_dir):
    """KMV sketch set-algebra (functions/sketch.py kmv_set_ops):
    union / intersection / Jaccard estimates between the even- and
    odd-half user populations from two 64-hash sketches — overlap
    estimated from exchanged sketches instead of an exact join of the
    two populations. Deterministic md5 state => the whole
    estimate chain reproduces in DuckDB."""

    ev = read(spark, sf_dir, "events")
    a = kmv_build(
        ev.filter(F.col("event_id") % 2 == 0), "user_id", (), 64
    )
    b = kmv_build(
        ev.filter(F.col("event_id") % 2 == 1), "user_id", (), 64
    )
    return kmv_set_ops(a, b, 64)


@query(oracle="""
            WITH w AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            tot AS (SELECT count(*)::BIGINT AS n FROM w)
            SELECT word AS item, count(*)::BIGINT AS cnt
            FROM w, tot GROUP BY word, n
            HAVING count(*) >= ceil(n * 0.002)
        """)
def _q_heavy_hitters(spark, sf_dir):
    """Exact heavy-hitter vocabulary (functions/sketch.py
    heavy_hitters): every word at >= 0.2% of corpus occurrences with
    its exact count, found by per-partition Misra-Gries candidate
    pruning + one exact verify pass over candidate rows only — the
    full-cardinality groupBy (the q_top_words baseline) never runs.
    Candidacy is order-independent above the threshold, so the output
    equals the plain GROUP BY/HAVING oracle exactly."""

    d = read(spark, sf_dir, "documents")
    wds = tokens(F.col("text"))
    occ = d.select(F.explode(wds).alias("word"))
    return heavy_hitters(occ, "word", threshold_frac=0.002)


@query(oracle="""
            WITH hashed AS (
              SELECT DISTINCT event_type,
                     CAST(('0x' || substring(md5(user_id::VARCHAR), 1, 15))
                          AS BIGINT) AS h
              FROM events
            ),
            ranked AS (
              SELECT event_type, h,
                     row_number() OVER (
                       PARTITION BY event_type ORDER BY h
                     ) AS rank
              FROM hashed
            )
            SELECT event_type,
                   count(*)::BIGINT AS n_seen,
                   CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                        ELSE floor(
                          63 * 1152921504606846976.0
                          / max(CASE WHEN rank = 64 THEN h END)
                        )::BIGINT
                   END AS est_distinct
            FROM ranked WHERE rank <= 64
            GROUP BY event_type
        """)
def _q_kmv_distinct(spark, sf_dir):
    """Distinct users per event type via a K-minimum-values sketch
    (functions/sketch.py kmv_build/kmv_estimate, k=64): the transparent
    mergeable cardinality sketch — BIGINT md5-hash state the DuckDB
    oracle reproduces bit-for-bit (HLL registers can't be value-checked
    cross-engine; this can). Groups under k distinct are exact."""

    ev = read(spark, sf_dir, "events")
    sk = kmv_build(ev, "user_id", ("event_type",), k=64)
    return kmv_estimate(sk, ("event_type",), k=64)
