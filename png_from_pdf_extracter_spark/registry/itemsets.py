"""Driver queries over ``functions/itemsets.py`` (frequent itemsets)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions.itemsets import cooccur_lift
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH b AS (
              SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ),
            n AS (SELECT count(DISTINCT bk)::BIGINT AS nb FROM b),
            s AS (SELECT it, count(*)::BIGINT AS n1 FROM b GROUP BY it),
            p2 AS (
              SELECT x.it AS ia, y.it AS ib, count(*)::BIGINT AS nab
              FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
              GROUP BY x.it, y.it
              HAVING count(*) >= 3
            )
            SELECT ia AS item_a, ib AS item_b, nab AS n_ab,
                   sa.n1 AS n_a, sb.n1 AS n_b, nb AS n_baskets,
                   CAST(floor(nab::DOUBLE / nb::DOUBLE * 1e6)
                        AS BIGINT) AS support_ppm,
                   CAST(floor(nab::DOUBLE / sa.n1::DOUBLE * 1e6)
                        AS BIGINT) AS confidence_ppm,
                   CAST(floor(
                     (nb::HUGEINT * nab::HUGEINT)::DOUBLE
                     / (sa.n1::HUGEINT * sb.n1::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS lift_ppm
            FROM p2
            JOIN s sa ON p2.ia = sa.it
            JOIN s sb ON p2.ib = sb.it
            CROSS JOIN n
        """)
def _q_cooccur_lift(spark, sf_dir):
    """Market-basket association (functions/itemsets.py cooccur_lift):
    brands co-ordered within one order, with support / confidence /
    lift over distinct (order, brand) baskets. Self-equi-join on the
    basket key only — per-basket O(k^2), never corpus-global."""

    li = read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return cooccur_lift(
        baskets, "l_orderkey", "p_brand", min_pair_count=3
    )
