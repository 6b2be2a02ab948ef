"""Driver queries over ``operators/salting.py`` (salted repartition and skew
handling)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators import salted_equi_join
from png_from_pdf_extracter_spark.operators.salting import (
    rendezvous_shard,
    skew_report,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH l AS (
              SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'HOT'
                          ELSE 'k' || CAST(o_custkey % 97 AS VARCHAR)
                     END AS key,
                     o_orderkey AS lv
              FROM orders
            ),
            r AS (
              SELECT key, length(key) AS rtag FROM (
                SELECT DISTINCT
                       'k' || CAST(c_custkey % 97 AS VARCHAR) AS key
                FROM customer WHERE c_custkey % 97 < 40
                UNION ALL SELECT 'HOT'
              )
            )
            SELECT key, count(*) AS n, CAST(sum(lv) AS BIGINT) AS sum_lv,
                   CAST(max(rtag) AS INTEGER) AS rtag
            FROM l JOIN r USING (key)
            GROUP BY key
        """)
def _q_skew_join(spark, sf_dir):
    """Generalized big-big skewed equi-join (operators/salting.py
    salted_equi_join): one planted hot key holds a third of the left
    side; left rows salt deterministically, hot right rows replicate
    once per salt, so the hot key runs on salt_buckets tasks instead of
    pinning one. The oracle is the PLAIN join — the hash match proves
    the salted plan is a pure physical rewrite."""

    o = read(spark, sf_dir, "orders")
    left = o.select(
        F.when((F.col("o_orderkey") % 3) == 0, F.lit("HOT"))
        .otherwise(
            F.concat(F.lit("k"), (F.col("o_custkey") % 97).cast("string"))
        )
        .alias("key"),
        F.col("o_orderkey").alias("lv"),
    )
    c = read(spark, sf_dir, "customer")
    right = (
        c.filter((F.col("c_custkey") % 97) < 40)
        .select(
            F.concat(F.lit("k"), (F.col("c_custkey") % 97).cast("string"))
            .alias("key")
        )
        .distinct()
        .unionByName(spark.createDataFrame([("HOT",)], ["key"]))
        .withColumn("rtag", F.length("key"))
    )
    j = salted_equi_join(left, right, "key", ["HOT"], salt_buckets=8)
    return j.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("lv").alias("sum_lv"),
        F.max("rtag").alias("rtag"),
    )


@query(oracle="""
            WITH counts AS (
              SELECT event_type, user_id, count(*) AS c
              FROM events GROUP BY event_type, user_id
            ),
            ranked AS (
              SELECT event_type, user_id, c,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY c ASC, user_id ASC) AS r
              FROM counts
            ),
            a AS (
              SELECT event_type,
                     sum(c)::BIGINT AS n_rows,
                     count(*)::BIGINT AS n_keys,
                     max(c)::BIGINT AS max_key_rows,
                     sum(r * c)::BIGINT AS s2
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n_rows, n_keys, max_key_rows,
                   floor((max_key_rows::DOUBLE / n_rows::DOUBLE) * 1e6)
                     / 1e6 AS top1_share,
                   floor(((2 * s2)::DOUBLE / (n_keys * n_rows)::DOUBLE
                          - (n_keys + 1)::DOUBLE / n_keys::DOUBLE) * 1e6)
                     / 1e6 AS gini,
                   ((max_key_rows * n_keys + n_rows - 1) // n_rows)::BIGINT
                     AS hot_factor
            FROM a
        """)
def _q_skew_report(spark, sf_dir):
    """Per-event-type key-skew diagnostics over events.user_id
    (operators/salting.py skew_report): row/key counts, hottest-key
    share, Gini of the per-key distribution (BIGINT rank identity),
    and the integer hot_factor that sizes `salted_repartition`."""

    ev = read(spark, sf_dir, "events")
    return skew_report(ev, "user_id", group_cols=("event_type",))


@query(oracle="""
            WITH sh AS (
              SELECT u.s AS s, u.i AS i FROM (
                SELECT unnest(list_transform(range(0, 8),
                       i -> {'s': 's0' || i::VARCHAR, 'i': i})) AS u
              )
            ),
            a AS (
              SELECT doc_id,
                     arg_max(s,
                       CAST(concat('0x',
                         substr(md5(doc_id::VARCHAR || ':' || s), 1, 8))
                         AS BIGINT) * 64 + i) AS shard
              FROM documents, sh
              GROUP BY doc_id
            )
            SELECT shard, count(*) AS n_docs,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                   sum(doc_id)::BIGINT AS sum_doc
            FROM a GROUP BY shard
        """)
def _q_rendezvous_shard(spark, sf_dir):
    """Rendezvous (HRW) shard assignment of documents to 8 shards
    (operators/salting.py rendezvous_shard) rolled up per shard —
    map-only array_max over (score, shard) structs, no explode/join;
    the minimal-movement invariant is pinned in tests/test_skew.py."""

    d = read(spark, sf_dir, "documents")
    shards = [f"s0{i}" for i in range(8)]
    return (
        rendezvous_shard(d, "doc_id", shards)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
    )
