"""Driver queries over ``operators/merge.py`` (MERGE upsert and SCD2)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators.merge import merge_upsert, scd2_apply
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH t AS (
              SELECT o_orderkey AS k, o_orderstatus AS status,
                     o_totalprice AS price
              FROM orders
            ),
            src AS (
              SELECT k, 'U' AS status, price + 1000.0 AS price,
                     false AS deleted
              FROM t WHERE k % 7 = 0
              UNION ALL
              SELECT k, 'X', 0.0, true
              FROM t WHERE k % 13 = 0 AND k % 7 <> 0
              UNION ALL
              SELECT k + 10000000, 'N', 1.0, false FROM t WHERE k % 17 = 0
            ),
            j AS (
              SELECT COALESCE(t.k, src.k) AS k,
                     t.k IS NOT NULL AS in_t,
                     src.k IS NOT NULL AS in_s,
                     COALESCE(src.deleted, false) AS del,
                     CASE WHEN src.k IS NOT NULL THEN src.status
                          ELSE t.status END AS status,
                     CASE WHEN src.k IS NOT NULL THEN src.price
                          ELSE t.price END AS price
              FROM t FULL OUTER JOIN src ON t.k = src.k
            )
            SELECT k, status, price FROM j
            WHERE (in_t AND NOT in_s) OR (in_s AND NOT del)
        """)
def _q_merge_upsert(spark, sf_dir):
    """MERGE INTO (operators/merge.py merge_upsert) — the warehouse
    mutating write the reference's append-only SMTP sink never needed
    (smtp_service.py:94-152) but a re-ingesting corpus does. Target =
    orders; change set derived deterministically: keys %7 update (price
    +1000, status U), %13 delete, %17 insert under shifted keys. One
    full-outer shuffle; the broadcast map-only variant is plan-pinned in
    tests/test_merge.py. Oracle replays the same MERGE semantics as a
    FULL OUTER JOIN + CASE in DuckDB."""

    o = read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    updates = o.filter((F.col("k") % 7) == 0).select(
        "k",
        F.lit("U").alias("status"),
        (F.col("price") + F.lit(1000.0)).alias("price"),
        F.lit(False).alias("deleted"),
    )
    deletes = o.filter(((F.col("k") % 13) == 0) & ((F.col("k") % 7) != 0)).select(
        "k",
        F.lit("X").alias("status"),
        F.lit(0.0).alias("price"),
        F.lit(True).alias("deleted"),
    )
    inserts = o.filter((F.col("k") % 17) == 0).select(
        (F.col("k") + 10_000_000).alias("k"),
        F.lit("N").alias("status"),
        F.lit(1.0).alias("price"),
        F.lit(False).alias("deleted"),
    )
    src = updates.unionByName(deletes).unionByName(inserts)
    return merge_upsert(
        o, src, ["k"], delete_col="deleted", check_cardinality=False
    )


@query(oracle="""
            WITH cur AS (
              SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
            ),
            upd AS (
              SELECT c_custkey AS k,
                     CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                          ELSE 'CHANGED' END AS seg,
                     5 AS ts
              FROM customer WHERE c_custkey % 3 = 0
              UNION ALL
              SELECT c_custkey + 1000000, 'NEW', 5
              FROM customer WHERE c_custkey % 11 = 0
            ),
            j AS (
              SELECT cur.k AS ck, cur.seg AS cseg,
                     upd.k AS uk, upd.seg AS useg, upd.ts AS ts
              FROM cur FULL OUTER JOIN upd ON cur.k = upd.k
            )
            SELECT ck AS k, cseg AS seg, 0 AS valid_from,
                   CAST(NULL AS INTEGER) AS valid_to, true AS is_current
            FROM j WHERE ck IS NOT NULL AND (uk IS NULL OR cseg = useg)
            UNION ALL
            SELECT ck, cseg, 0, ts, false
            FROM j
            WHERE ck IS NOT NULL AND uk IS NOT NULL AND cseg <> useg
            UNION ALL
            SELECT uk, useg, ts, CAST(NULL AS INTEGER), true
            FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR cseg <> useg)
        """)
def _q_scd2(spark, sf_dir):
    """SCD Type-2 dimension history (operators/merge.py scd2_apply):
    current customer segments + one update batch (keys %3: half no-op,
    half changed; %11: brand-new keys) -> closed-out rows, new current
    rows, untouched history. The oracle unions the same three branches
    off a FULL OUTER JOIN. Shuffle sized |current|+|updates| — history
    passes through map-only."""

    c = read(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        c.filter((F.col("c_custkey") % 3) == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when((F.col("c_custkey") % 2) == 0, F.col("c_mktsegment"))
            .otherwise(F.lit("CHANGED"))
            .alias("seg"),
            F.lit(5).alias("effective_ts"),
        )
        .unionByName(
            c.filter((F.col("c_custkey") % 11) == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("k"),
                F.lit("NEW").alias("seg"),
                F.lit(5).alias("effective_ts"),
            )
        )
    )
    return scd2_apply(
        dim, upd, ["k"], ["seg"], "effective_ts", check_cardinality=False
    )
