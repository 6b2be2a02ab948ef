"""Builtin-only driver queries: TPC-H and relational joins / set ops (SURVEY.md
§2.1-2.2)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """)
def _q_tpch_q1(spark, sf_dir):
    li = read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@query(oracle="""
            SELECT n_name, revenue, n_orders, rank::INTEGER AS rank FROM (
              SELECT n_name, revenue, n_orders,
                     row_number() OVER (ORDER BY revenue DESC, n_name ASC) AS rank
              FROM (
                SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                       count(*) AS n_orders
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name
              )
            ) WHERE rank <= 10
        """)
def _q_join_topn(spark, sf_dir):
    """Broadcast-join orders->customer->nation, top revenue per nation."""
    o = read(spark, sf_dir, "orders")
    c = read(spark, sf_dir, "customer")
    n = read(spark, sf_dir, "nation")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    return agg.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )


@query(oracle="""
            SELECT l_orderkey, o_epoch, o_orderpriority, revenue,
                   rank::INTEGER AS rank FROM (
              SELECT l_orderkey, o_epoch, o_orderpriority, revenue,
                     row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC)
                       AS rank
              FROM (
                SELECT l_orderkey,
                       floor(epoch(o_orderdate))::BIGINT AS o_epoch,
                       o_orderpriority,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
                  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
                GROUP BY l_orderkey, o_epoch, o_orderpriority
              )
            ) WHERE rank <= 10
        """)
def _q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: shipping-priority top-10. Customer dim broadcast
    (small side), lineitem<->orders shuffle join on orderkey; date filters
    pushed to both parquet scans."""
    cutoff = "1996-06-30"
    c = read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_epoch"),
            "o_orderpriority",
            "revenue",
            "rank",
        )
    )


@query(oracle="""
            SELECT user_id FROM events WHERE event_type = 'view'
            UNION
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'error' AND value > 95
        """)
def _q_set_ops(spark, sf_dir):
    """Set operations: engaged users (view UNION click) minus users with a
    severe error (EXCEPT/subtract)."""
    e = read(spark, sf_dir, "events")
    engaged = (
        e.filter(F.col("event_type") == "view")
        .select("user_id")
        .union(e.filter(F.col("event_type") == "click").select("user_id"))
        .distinct()
    )
    severe = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .select("user_id")
        .distinct()
    )
    return engaged.subtract(severe)


@query(oracle="""
            SELECT n_name,
                   count(CASE WHEN ex THEN 1 END)::BIGINT AS n_with,
                   count(CASE WHEN NOT ex THEN 1 END)::BIGINT AS n_without
            FROM (SELECT c_custkey, c_nationkey,
                         EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey) AS ex
                  FROM customer) c
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """)
def _q_semi_anti(spark, sf_dir):
    """Left semi + left anti joins: per nation, customers with at least
    one order vs customers with none (EXISTS / NOT EXISTS oracle)."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders").select("o_custkey")
    n = read(spark, sf_dir, "nation")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without"))
    )
    both = semi.join(anti, "c_nationkey", "full_outer")
    return (
        both.join(F.broadcast(n), both.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


@query(oracle="""
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """)
def _q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-way join with the four
    dimension tables broadcast and the two fact tables shuffle-joined on
    orderkey; date + region filters pushed into the scans."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = read(spark, sf_dir, "lineitem")
    s = read(spark, sf_dir, "supplier")
    n = read(spark, sf_dir, "nation")
    r = read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """)
def _q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure filter-aggregate —
    every predicate pushes to the parquet scan, the agg is one map-side
    partial + one single-row exchange; the whole plan is one
    WholeStageCodegen span."""
    li = read(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """)
def _q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): fact-fact shuffle join on
    orderkey, customer enriched via broadcast, top-20 by revenue with a
    deterministic tie-break."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


@query(oracle="""
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R'
              )
            GROUP BY o_orderpriority
        """)
def _q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): decorrelated EXISTS —
    the subquery becomes a LEFT SEMI join on orderkey, which Spark
    executes as a shuffled semi-join that only ships the join key from
    the lineitem side; no fact-row duplication. The synthetic lineitem
    has no commit/receipt dates, so the EXISTS predicate is the
    returned-item flag instead (same plan shape)."""
    o = read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    sel = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
    return sel.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@query(oracle="""
            SELECT l_linestatus,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_linestatus
        """)
def _q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority split): fact-fact join on
    orderkey + conditional CASE aggregation. The synthetic lineitem has
    no shipmode, so the group key is l_linestatus (same two-sum CASE
    plan). Both sums are map-side combinable."""
    o = read(spark, sf_dir, "orders")
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(oracle="""
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS promo_revenue_pct,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
        """)
def _q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): broadcast the 200-row part dim, one
    single-row conditional aggregate — the promo ratio is computed from
    two map-side-combinable sums, never a second pass."""
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    p = read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT c_custkey, c_name, o_orderkey, o_totalprice,
                   big.total_qty AS sum_qty
            FROM orders
            JOIN (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 95
            ) big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """)
def _q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): the IN-subquery over
    sum(l_quantity) is planned as aggregate -> semi-join -> re-join, with
    the qualifying-orderkey set (tiny after the HAVING) broadcast back
    against both fact tables; the big lineitem table is aggregated
    map-side first so the only wide exchange carries (orderkey, sum)."""
    li = read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 95)
    )
    o = read(spark, sf_dir, "orders")
    c = read(spark, sf_dir, "customer")
    j = (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return j.select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice",
        F.col("total_qty").alias("sum_qty"),
    )


@query(oracle="""
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 25)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30
                   AND l_quantity BETWEEN 20 AND 45)
        """)
def _q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the
    brand/size/quantity disjunction stays INSIDE the join filter so
    Catalyst derives the common l_partkey = p_partkey equi-condition —
    a broadcast hash join, not a nested-loop over the disjunction."""
    li = read(spark, sf_dir, "lineitem")
    p = read(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 25))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 35))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(20, 45))
        )
    )
    return j.filter(clause).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 2) AS revenue,
                   count(*) AS n_items
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     EXTRACT(year FROM l_shipdate)::INTEGER AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY supp_nation, cust_nation, l_year
        """)
def _q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between nation pairs): the two
    fact tables shuffle-join on orderkey; both nation lookups ride
    broadcast joins, and the pair filter collapses to two IN-filters
    pushed below the join."""
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = read(spark, sf_dir, "orders")
    c = read(spark, sf_dir, "customer")
    s = read(spark, sf_dir, "supplier")
    n1 = read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nk)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey,
                     coalesce(per.n_orders, 0)::BIGINT AS c_count
              FROM customer
              LEFT JOIN (
                SELECT o_custkey, count(*) AS n_orders
                FROM orders WHERE o_orderpriority <> '1-URGENT'
                GROUP BY o_custkey
              ) per ON c_custkey = per.o_custkey
            )
            GROUP BY c_count
        """)
def _q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): orders collapse to
    per-customer counts FIRST (map-side combinable, one exchange on
    custkey), then a LEFT join preserves zero-order customers, then the
    metadata-sized second aggregation builds the histogram."""
    c = read(spark, sf_dir, "customer")
    o = read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    j = c.join(per, c.c_custkey == per.o_custkey, "left")
    dist = j.select(
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count")
    )
    return dist.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(oracle="""
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """)
def _q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue per supplier, then the scalar
    max is broadcast back as a 1-row join — no second scan of lineitem,
    ties kept like the spec's view formulation."""
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = read(spark, sf_dir, "supplier")
    top = rev.join(
        F.broadcast(mx), rev.total_revenue == mx.mx, "left_semi"
    )
    return top.join(
        F.broadcast(s), top.l_suppkey == s.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


@query(oracle="""
            WITH li_b AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#23'
            ),
            avg_q AS (
              SELECT l_partkey AS ak, avg(l_quantity) * 0.5 AS half_avg_qty
              FROM li_b GROUP BY l_partkey
            )
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_items
            FROM li_b JOIN avg_q ON l_partkey = ak
            WHERE l_quantity < half_avg_qty
        """)
def _q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery avg(l_quantity) per part is decorrelated into one
    aggregation broadcast back against the fact — the standard rewrite
    that turns a per-row rescan into a single extra exchange."""
    p = read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = read(spark, sf_dir, "lineitem")
    li_b = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    avg_q = li_b.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    sel = li_b.join(F.broadcast(avg_q), "l_partkey").filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return sel.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count("*").alias("n_items"),
    )


@query(oracle="""
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT avg(c_acctbal) FROM customer
                    WHERE c_acctbal > 0.0
                  )
              AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
                  )
            GROUP BY c_nationkey
        """)
def _q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers): scalar
    above-average filter (1-row broadcast) + broadcast ANTI join against
    the orders key set, grouped by nation instead of the spec's phone
    prefix (no phone column in the synthetic schema)."""
    c = read(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    # windowed dormancy: the synthetic data gives every customer at least
    # one order, so "no orders ever" is vacuous — "no orders in the recent
    # window" keeps the anti-join shape AND a non-empty answer
    o = read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    dormant = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@query(oracle="""
            WITH offers AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice * (1 - l_discount)) AS offer
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            best AS (
              SELECT l_partkey AS bk, min(offer) AS best_offer
              FROM offers GROUP BY l_partkey
            )
            SELECT p_partkey, p_name, s_name, n_name,
                   floor(offer * 100) / 100 AS best_price
            FROM offers
            JOIN best ON l_partkey = bk AND offer = best_offer
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
        """)
def _q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated
    min-subquery is decorrelated into a per-part best-offer aggregate
    joined back on (partkey, offer) — lineitem stands in for partsupp
    (no partsupp in the synthetic schema), with the discounted price as
    the offer. Both aggregates cluster on l_partkey, so the second agg
    and the join-back reuse the first exchange; part/supplier/nation/
    region all ride broadcasts."""
    li = read(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "offer"
        )
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("offer").alias("best_offer")
    ).withColumnRenamed("l_partkey", "bk")
    p = read(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = read(spark, sf_dir, "supplier")
    n = read(spark, sf_dir, "nation")
    r = read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    j = (
        offers.join(
            best,
            (offers.l_partkey == best.bk)
            & (offers.offer == best.best_offer),
        )
        .join(F.broadcast(p), offers.l_partkey == p.p_partkey)
        .join(F.broadcast(s), offers.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.select(
        "p_partkey",
        "p_name",
        "s_name",
        "n_name",
        # floor-quantized: round(x, 2) flips on exact .005 boundaries
        # across engines (sf0.1: one part at 1335.035)
        (F.floor(F.col("offer") * 100) / 100).alias("best_price"),
    )


@query(oracle="""
            SELECT EXTRACT(year FROM o_orderdate)::INTEGER AS o_year,
                   round(
                     sum(CASE WHEN sn.n_name = 'NATION_5'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4
                   ) AS mkt_share
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
             AND r_name = 'AMERICA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY o_year
        """)
def _q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): one pass computes both
    the nation's volume (conditional sum) and the total volume per year,
    so the share is a single grouped aggregate — no second scan, no
    self-join. Facts shuffle-join on orderkey; all five dimensions ride
    broadcasts."""
    li = read(spark, sf_dir, "lineitem")
    o = read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = read(spark, sf_dir, "customer")
    cn = read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_nk"), F.col("n_regionkey").alias("cn_rk")
    )
    r = read(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = read(spark, sf_dir, "supplier")
    sn = read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation")
    )
    p = read(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_nk"))
        .join(F.broadcast(r), F.col("cn_rk") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_nk"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
            / F.sum(vol),
            4,
        ).alias("mkt_share")
    )


@query(oracle="""
            SELECT n_name,
                   EXTRACT(year FROM l_shipdate)::INTEGER AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.1 * p_retailprice * l_quantity), 2)
                     AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, o_year
        """)
def _q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year): profit
    uses 10% of p_retailprice as the per-unit cost stand-in for the
    missing ps_supplycost. The name LIKE filter prunes part before the
    broadcast, so the fact scan is the only large input; one grouped
    aggregate, map-side combinable."""
    li = read(spark, sf_dir, "lineitem")
    p = read(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = read(spark, sf_dir, "supplier")
    n = read(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return j.groupBy(
        "n_name", F.year("l_shipdate").alias("o_year")
    ).agg(F.round(F.sum(profit), 2).alias("profit"))


@query(oracle="""
            WITH scoped AS (
              SELECT l_partkey, l_extendedprice
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
               AND n_name IN ('NATION_3', 'NATION_8')
            )
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
            FROM scoped
            GROUP BY l_partkey
            HAVING sum(l_extendedprice) >
                   (SELECT sum(l_extendedprice) * 0.001 FROM scoped)
        """)
def _q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important inventory value): grouped HAVING
    against a global-scalar threshold. The per-part aggregate is
    computed once; the corpus total re-aggregates THAT (metadata-sized
    input), and the 1-row threshold broadcasts back — lineitem is
    scanned exactly once."""
    li = read(spark, sf_dir, "lineitem")
    s = read(spark, sf_dir, "supplier")
    n = read(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    per_part = j.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("raw_value")
    )
    thresh = per_part.agg(
        (F.sum("raw_value") * 0.001).alias("thresh")
    )
    return (
        per_part.join(F.broadcast(thresh))
        .filter(F.col("raw_value") > F.col("thresh"))
        .select("l_partkey", F.round("raw_value", 2).alias("value"))
    )


@query(oracle="""
            SELECT p_brand, p_type,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#2' AND p_size IN (5, 11, 23, 37)
              AND l_suppkey NOT IN (
                    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type
        """)
def _q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per brand/type): the NOT IN
    complaint-supplier subquery becomes a broadcast ANTI join (the
    excluded key set is tiny), then count(DISTINCT l_suppkey) per
    (brand, type) — Spark plans the distinct as a two-level partial
    aggregate, no row explosion."""
    li = read(spark, sf_dir, "lineitem")
    p = read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_size").isin(5, 11, 23, 37))
    )
    bad = (
        read(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return j.groupBy("p_brand", "p_type").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


@query(oracle="""
            SELECT s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
            WHERE s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
               AND p_name LIKE 'small%'
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 40)
        """)
def _q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (excess-shipment suppliers): the nested IN
    subqueries collapse into aggregate -> LEFT SEMI join. The
    per-(supplier, part) quantity aggregate runs over the name-filtered
    broadcast join, its HAVING filter shrinks it to a key list, and the
    semi-join keeps supplier rows without duplicating them."""
    li = read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = read(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    heavy = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    s = read(spark, sf_dir, "supplier")
    n = read(spark, sf_dir, "nation")
    r = read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_name", "n_name")
    )


@query(oracle="""
            SELECT s_name, count(*)::BIGINT AS numwait
            FROM supplier, lineitem l1, orders
            WHERE s_suppkey = l1.l_suppkey
              AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                    SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name
        """)
def _q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting — the hardest
    decorrelation in the suite). The textbook form is two correlated
    self-joins on lineitem (EXISTS another supplier / NOT EXISTS another
    LATE supplier); the oracle keeps exactly that form. The Spark plan
    instead aggregates once per (orderkey, suppkey) and derives the
    order-level supplier counts with a window over orderkey — the
    fact-fact join shuffles on orderkey and EVERYTHING downstream
    (grouped agg on a superset key, window on orderkey) reuses that one
    exchange; the hash match against the EXISTS form proves the rewrite.
    'Late' = shipped >90 days after the order date (no receipt/commit
    dates in the synthetic schema)."""
    o = read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lf = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    # one wide exchange for the whole tail: hash on l_orderkey ALONE
    # satisfies both the (orderkey, suppkey) group-by (subset clustering)
    # and the orderkey window; letting groupBy pick its own partitioning
    # would shuffle on (orderkey, suppkey) and force the window to
    # re-shuffle on orderkey — two exchanges of the same data
    per_supp = lf.repartition("l_orderkey").groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn(
        "n_supp", F.count("*").over(w)
    ).withColumn(
        "n_late_supp",
        F.count(F.when(F.col("late_rows") > 0, True)).over(w),
    )
    waiting = flagged.filter(
        (F.col("late_rows") > 0)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    s = read(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
    )


@query(oracle="""
            WITH l AS (
              SELECT nullif(event_type, 'error') AS k, value
              FROM events WHERE event_id % 2 = 0
            ),
            r AS (
              SELECT nullif(event_type, 'error') AS rk,
                     count(*) AS n_right
              FROM events WHERE event_id % 2 = 1
              GROUP BY rk
            )
            SELECT k,
                   count(*) AS n_left,
                   min(n_right) AS n_right,
                   round(sum(value), 2) AS sum_value
            FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.rk
            GROUP BY k
        """)
def _q_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics every dedup-on-nullable-key job
    silently needs; a plain equi-join drops the NULL group."""
    e = read(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error")).alias("k")
    l = e.filter(F.col("event_id") % 2 == 0).select(k, "value")
    r = (
        e.filter(F.col("event_id") % 2 == 1)
        .select(k)
        .groupBy("k")
        .agg(F.count("*").alias("n_right"))
        .withColumnRenamed("k", "rk")
    )
    return (
        l.join(r, l["k"].eqNullSafe(r["rk"]))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_left"),
            F.min("n_right").alias("n_right"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(oracle="""
            WITH top_docs AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id
                     )::INTEGER AS rn
              FROM documents
            ),
            ev AS (
              SELECT event_type, count(*) AS n_events,
                     round(avg(value), 4) AS avg_value
              FROM events GROUP BY event_type
            )
            SELECT t.source, t.doc_id, t.n_chars, t.rn,
                   e.event_type, e.n_events, e.avg_value
            FROM top_docs t
            CROSS JOIN ev e
            WHERE t.rn <= 2 AND e.event_type = 'click'
        """)
def _q_sql_surface(spark, sf_dir):
    """The spark.sql(...) entry point itself — the same engine drives a
    pure ANSI-SQL string over temp views (CTE + window + join + agg in
    one statement), proving the SQL surface is first-class next to the
    DataFrame DSL. The text is dialect-shared with the DuckDB oracle."""
    read(spark, sf_dir, "documents").createOrReplaceTempView("v_documents")
    read(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    return spark.sql("""
        WITH top_docs AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
                 ) AS rn
          FROM v_documents
        ),
        ev AS (
          SELECT event_type, count(*) AS n_events,
                 round(avg(value), 4) AS avg_value
          FROM v_events GROUP BY event_type
        )
        SELECT t.source, t.doc_id, t.n_chars, t.rn,
               e.event_type, e.n_events, e.avg_value
        FROM top_docs t
        CROSS JOIN ev e
        WHERE t.rn <= 2 AND e.event_type = 'click'
    """)
