"""Builtin-only driver queries: grouping, windows and reshaping (SURVEY.md
§2.6)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT user_id, event_id, rn::INTEGER AS rn, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3
        """)
def _q_window_order(spark, sf_dir):
    e = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn", "event_type")
    )


@query(oracle="""
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value,
                   count(DISTINCT user_id) AS n_users,
                   min(floor(epoch(ts)))::BIGINT AS min_epoch,
                   max(floor(epoch(ts)))::BIGINT AS max_epoch
            FROM events GROUP BY event_type
        """)
def _q_group_metrics(spark, sf_dir):
    e = read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
    )


@query(oracle="""
            SELECT n_name, o_orderkey AS top_orderkey,
                   round(o_totalprice, 2) AS top_price
            FROM (
              SELECT n_name, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY n_name
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
            ) WHERE rn = 1
        """)
def _q_argmax(spark, sf_dir):
    """Top-1-per-group via max_by aggregation — no window, no sort: the
    partial-aggregation path that beats window ranking when k=1 at scale.
    Tie-broken deterministically by (price, orderkey) struct comparison."""
    o = read(spark, sf_dir, "orders")
    c = read(spark, sf_dir, "customer")
    n = read(spark, sf_dir, "nation")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return j.groupBy("n_name").agg(
        F.max_by("o_orderkey", key).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


@query(oracle="""
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS UNBOUNDED PRECEDING), 4) AS running_value,
                   lag(event_id) OVER w AS prev_event_id,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """)
def _q_running_total(spark, sf_dir):
    """Running aggregates (lag + cumulative sum per key) — the ordered-
    window family beyond ranking."""
    e = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            4,
        ).alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


@query(oracle="""
            SELECT measure, round(sum(val), 2) AS total, count(*) AS n
            FROM (
              SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT 'l_tax', l_tax FROM lineitem
            ) GROUP BY measure
        """)
def _q_unpivot(spark, sf_dir):
    """Unpivot (wide->long): lineitem measures melted to (measure, val)
    rows, then aggregated — the inverse of q_pivot."""
    li = read(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot(
        ids=["l_orderkey"],
        values=measures,
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        F.round(F.sum("val"), 2).alias("total"),
        F.count("*").alias("n"),
    )


@query(oracle="""
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """)
def _q_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations of (returnflag, linestatus)."""
    li = read(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
    )


@query(oracle="""
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     AS purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS error
            FROM events GROUP BY user_id
        """)
def _q_pivot(spark, sf_dir):
    """Pivot (long->wide): per-user event-type counts as columns. The
    pivot value list is explicit, so the plan is a single pass (no extra
    distinct-values job)."""
    e = read(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query(oracle="""
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(avg(value), 4) AS mean_value
            FROM events GROUP BY event_type
        """)
def _q_profile(spark, sf_dir):
    """Exact per-group data profiling: distinct cardinality + interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`)."""
    e = read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    )


@query(pin="tests/test_profile.py::test_sketch_tracks_exact")
def _q_profile_sketch(spark, sf_dir):
    """Sketch-based profiling — the 100 TB path: HLL++ cardinality and
    t-digest-style approx percentiles are mergeable partial aggregates
    (no giant exact-distinct shuffle). Approximate by design -> rows-only;
    accuracy vs the exact twin is pinned by tests/test_profile.py."""
    e = read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.round(
            F.expr("approx_percentile(value, 0.5, 10000)"), 4
        ).alias("p50_approx"),
        F.round(
            F.expr("approx_percentile(value, 0.95, 10000)"), 4
        ).alias("p95_approx"),
    )


@query(oracle="""
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)
def _q_rollup_agg(spark, sf_dir):
    """Hierarchical totals via ROLLUP (returnflag -> linestatus -> grand
    total) — partial aggregation keeps it one shuffle."""
    li = read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(oracle="""
            WITH pu AS (
              SELECT event_type, user_id, count(*) AS n
              FROM events GROUP BY event_type, user_id
            )
            SELECT event_type, user_id, n,
                   dense_rank() OVER t::INTEGER AS drank,
                   round(percent_rank() OVER t, 4) AS prank,
                   round(cume_dist() OVER t, 4) AS cdist,
                   ntile(4) OVER u::INTEGER AS quartile
            FROM pu
            WINDOW t AS (PARTITION BY event_type ORDER BY n DESC),
                   u AS (PARTITION BY event_type
                         ORDER BY n DESC, user_id ASC)
        """)
def _q_rank_family(spark, sf_dir):
    """Ranking-window family beyond row_number: dense_rank / percent_rank
    / cume_dist share the ties-respecting order; ntile gets a unique
    order (ties would make its tile assignment nondeterministic)."""
    e = read(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    ties = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    uniq = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return per_user.select(
        "event_type",
        "user_id",
        "n",
        F.dense_rank().over(ties).alias("drank"),
        F.round(F.percent_rank().over(ties), 4).alias("prank"),
        F.round(F.cume_dist().over(ties), 4).alias("cdist"),
        F.ntile(4).over(uniq).alias("quartile"),
    )


@query(oracle="""
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 2) AS trailing_1h_value,
                   count(*) OVER w AS trailing_1h_n
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY floor(epoch(ts))::BIGINT
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """)
def _q_trailing_window(spark, sf_dir):
    """RANGE-frame window (time-based, not row-based): per event, the
    trailing-1-hour sum/count of the user's values — the sliding-metric
    family rowsBetween can't express when events are irregularly
    spaced."""
    e = read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_1h_value"),
        F.count("*").over(w).alias("trailing_1h_n"),
    )


@query(oracle="""
            SELECT event_type,
                   round(corr(value, floor(epoch(ts))), 4) AS corr_vt,
                   round(covar_samp(value, value), 4) AS var_value,
                   round(stddev_samp(value), 4) AS sd_value,
                   round(avg(value), 4) AS mean_value
            FROM events GROUP BY event_type
        """)
def _q_stats_agg(spark, sf_dir):
    """Statistical aggregate family (correlation, sample covariance/
    variance, stddev) per event type — the numeric-profiling surface
    beyond counts/percentiles."""
    e = read(spark, sf_dir, "events")
    x = F.col("value")
    y = F.unix_timestamp("ts").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.corr(x, y), 4).alias("corr_vt"),
        F.round(F.covar_samp(x, x), 4).alias("var_value"),
        F.round(F.stddev(x), 4).alias("sd_value"),
        F.round(F.avg(x), 4).alias("mean_value"),
    )


@query(oracle="""
            SELECT event_type,
                   CAST(floor(value / 10.0) AS INTEGER) AS bin,
                   count(*) AS n,
                   round(min(value), 4) AS bin_min,
                   round(max(value), 4) AS bin_max
            FROM events GROUP BY event_type, bin
        """)
def _q_histogram(spark, sf_dir):
    """Fixed-width histogram binning (floor(value / width)) with per-bin
    counts and bounds — the value-distribution profile every data-quality
    report needs; pure integer bin keys so both engines agree exactly."""
    e = read(spark, sf_dir, "events")
    b = F.floor(F.col("value") / F.lit(10.0)).cast("int")
    return (
        e.withColumn("bin", b)
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("bin_min"),
            F.round(F.max("value"), 4).alias("bin_max"),
        )
    )


@query(oracle="""
            SELECT user_id, event_id, event_type,
                   round(last_value(
                     CASE WHEN event_type = 'purchase' THEN value END
                     IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     4) AS last_purchase_value
            FROM events
            WHERE user_id < 20
        """)
def _q_forward_fill(spark, sf_dir):
    """Gap-fill / forward-fill: carry each user's last purchase value
    forward onto every subsequent event (``last(..., ignorenulls=True)``
    over an ordered window) — the state-propagation primitive behind
    slowly-updating attributes. Tie-broken on event_id so both engines
    see one deterministic ordering."""
    e = read(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("filled", F.last(v, ignorenulls=True).over(w))
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round(F.col("filled"), 4).alias("last_purchase_value"),
        )
    )


@query(oracle="""
            WITH stats AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS p05,
                     quantile_cont(value, 0.95) AS p95
              FROM events GROUP BY event_type
            )
            SELECT e.event_type,
                   count(*) AS n,
                   sum((value < p05)::INTEGER)::BIGINT AS n_lo,
                   sum((value > p95)::INTEGER)::BIGINT AS n_hi,
                   round(avg(least(greatest(value, p05), p95)), 4)
                     AS mean_winsorized,
                   round(min(p05), 4) AS p05,
                   round(min(p95), 4) AS p95
            FROM events e JOIN stats s USING (event_type)
            GROUP BY e.event_type
        """)
def _q_winsorize(spark, sf_dir):
    """Winsorization: clamp values to the exact interpolated [p05, p95]
    of their group (``percentile`` = SQL-standard continuous quantile,
    DuckDB ``quantile_cont``) — the outlier-taming stage of numeric
    feature pipelines. Group stats are one combinable aggregate,
    broadcast back; the clamp is map-side."""
    e = read(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = e.join(F.broadcast(stats), "event_type").withColumn(
        "w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("p05")).cast("int")).alias("n_lo"),
        F.sum((F.col("value") > F.col("p95")).cast("int")).alias("n_hi"),
        F.round(F.avg("w"), 4).alias("mean_winsorized"),
        F.round(F.min("p05"), 4).alias("p05"),
        F.round(F.min("p95"), 4).alias("p95"),
    )


@query(oracle="""
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(value - med), 0.5) AS mad,
                     min(med) AS med
              FROM events e JOIN med USING (event_type)
              GROUP BY e.event_type
            )
            SELECT e.event_type,
                   count(*) AS n,
                   sum((round(abs(0.6745 * (value - med) / mad), 4)
                        > 3.5)::INTEGER)::BIGINT AS n_outliers,
                   round(min(med), 4) AS med,
                   round(min(mad), 4) AS mad,
                   round(max(round(abs(0.6745 * (value - med) / mad), 4)),
                         4) AS max_mz
            FROM events e JOIN mad USING (event_type)
            GROUP BY e.event_type
        """)
def _q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier detection (modified z-score, Iglewicz &
    Hoaglin |0.6745*(x-med)/MAD| > 3.5) — the robust twin of the
    mean/stddev z-score (q_grouped_zscore) and winsorize stages: immune
    to the very outliers it hunts. Two combinable group aggregates
    (median, then median absolute deviation), each broadcast back;
    the flag is map-side. Exact interpolated ``percentile`` ≡ DuckDB
    ``quantile_cont`` (the equivalence q_winsorize already pins)."""
    e = read(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"), F.min("med").alias("med")
    )
    z = F.abs(F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        e.join(F.broadcast(mad), "event_type")
        .withColumn("mz", F.round(z, 4))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("mz") > 3.5).cast("int")).cast("long").alias(
                "n_outliers"
            ),
            F.round(F.min("med"), 4).alias("med"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.round(F.max("mz"), 4).alias("max_mz"),
        )
    )


@query(oracle="""
            WITH keyed AS (
              SELECT source, doc_id, n_chars,
                     pow(
                       (('0x' || substring(
                           md5(doc_id::VARCHAR || '|' || source), 1, 12)
                        )::BIGINT + 1.0) / 281474976710656.0,
                       1.0 / n_chars) AS skey
              FROM documents
            )
            SELECT source, doc_id, n_chars,
                   round(skey, 6) AS skey,
                   rank
            FROM (
              SELECT source, doc_id, n_chars, skey,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY skey DESC, doc_id ASC
                     )::INTEGER AS rank
              FROM keyed
            ) WHERE rank <= 10
        """)
def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): key = u^(1/w) with u a seeded md5-derived uniform and
    w = n_chars; top-k keys per source win. One window per stratum — the
    quality-weighted subsampling stage of corpus curation, reproducible
    across runs/engines because u comes from a hash, not an RNG."""
    d = read(spark, sf_dir, "documents")
    # u in (0,1]: 12 hex chars = 48 bits of md5, +1 to avoid u=0
    u = (
        F.conv(F.substring(F.md5(F.concat_ws("|", "doc_id", "source")), 1, 12),
               16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(2 ** 48))
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(
        F.col("skey").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("skey", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "source", "doc_id", "n_chars",
            F.round("skey", 6).alias("skey"), "rank",
        )
    )


@query(oracle="""
            WITH s AS (
              SELECT user_id, min(ts) AS signup_ts
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ),
            firstp AS (
              SELECT s.user_id, s.signup_ts,
                     min(p.ts) AS first_purchase_ts
              FROM s LEFT JOIN events p
                ON p.user_id = s.user_id
               AND p.event_type = 'purchase'
               AND p.ts >= s.signup_ts
              GROUP BY s.user_id, s.signup_ts
            )
            SELECT date_trunc('month', signup_ts)::DATE AS cohort_month,
                   count(*) AS n_signups,
                   count(first_purchase_ts) AS n_converted,
                   round(count(first_purchase_ts) / count(*)::DOUBLE, 4)
                     AS conv_rate,
                   round(avg(floor(epoch(first_purchase_ts))
                             - floor(epoch(signup_ts))),
                         2) AS avg_secs_to_convert
            FROM firstp
            GROUP BY cohort_month
        """)
def _q_funnel_steps(spark, sf_dir):
    """Conversion funnel: per user, first signup -> earliest purchase at
    or after it, rolled up by signup month — equi-join on user with a
    range predicate (no cross join), both aggregates map-side
    combinable. The product-analytics twin of the curation funnel."""
    e = read(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    firstp = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
    )
    # whole-second epochs on BOTH engines (oracle: floor(epoch(..)));
    # the tz offset a session may apply to NTZ timestamps cancels in the
    # difference, so the lag is tz-invariant
    lag_s = F.unix_timestamp("first_purchase_ts") - F.unix_timestamp(
        "signup_ts"
    )
    # DATE on both engines: DuckDB's date_trunc('month') narrows to DATE
    # while Spark's stays TIMESTAMP — cast so the canonical forms agree
    return firstp.groupBy(
        F.to_date(F.date_trunc("month", "signup_ts")).alias("cohort_month")
    ).agg(
        F.count("*").alias("n_signups"),
        F.count("first_purchase_ts").alias("n_converted"),
        F.round(
            F.count("first_purchase_ts") / F.count("*"), 4
        ).alias("conv_rate"),
        F.round(F.avg(lag_s), 2).alias("avg_secs_to_convert"),
    )


@query(oracle="""
            SELECT decile, count(*) AS n_orders,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi,
                   round(sum(o_totalprice), 2) AS volume
            FROM (
              SELECT o_totalprice,
                     ntile(10) OVER (
                       ORDER BY o_totalprice ASC, o_orderkey ASC
                     )::INTEGER AS decile
              FROM orders
            )
            GROUP BY decile
        """)
def _q_ntile_deciles(spark, sf_dir):
    """Equal-frequency binning: ntile(10) over order value (orderkey
    tie-break makes the assignment deterministic), rolled up to per-decile
    count / bounds / volume — the quantile-bucket profile used for price
    banding and stratified splits."""
    o = read(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
        )
    )


@query(oracle="""
            WITH ev AS (
              SELECT user_id, CAST(ts AS DATE) AS day FROM events
            ),
            coh AS (
              SELECT user_id, min(day) AS cohort_day
              FROM ev GROUP BY user_id
            ),
            act AS (
              SELECT DISTINCT e.user_id, c.cohort_day,
                     date_diff('day', c.cohort_day, e.day) AS day_offset
              FROM ev e JOIN coh c USING (user_id)
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   day_offset::INTEGER AS day_offset,
                   count(*) AS n_users
            FROM act GROUP BY 1, 2
        """)
def _q_retention_cohort(spark, sf_dir):
    """Cohort retention matrix over events: users grouped by first-seen
    day, distinct actives per (cohort_day, day_offset). Two map-side
    combinable aggregations (min-per-user, then count-distinct via an
    exact pre-distinct) — no windows, no skew hazard.

    Timezone note: events.ts is parquet timestamp WITHOUT
    isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ — ``to_date`` on
    NTZ never consults the session timezone, and DuckDB's
    ``CAST(ts AS DATE)`` truncates the same naive wall time, so the
    day-boundary oracle holds under any driver timezone. If this table
    ever becomes an instant (LTZ) column, both sides must pin a zone."""
    e = read(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        e.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
        )
    )


@query(oracle="""
            WITH n AS (
              SELECT label,
                     sqrt(list_aggregate(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       'sum')) AS norm,
                     CAST(embedding[1] AS DOUBLE) AS c0
              FROM embeddings
            )
            SELECT label, count(*) AS n,
                   round(min(norm), 4) AS min_norm,
                   round(max(norm), 4) AS max_norm,
                   round(avg(norm), 4) AS avg_norm,
                   round(avg(c0), 4) AS avg_c0
            FROM n GROUP BY label
        """)
def _q_vector_stats(spark, sf_dir):
    """Per-label embedding geometry report: L2-norm stats via
    ``F.aggregate`` over the array (JVM higher-order function, no UDF).
    The double accumulator runs in array order on both engines, so
    min/max are bit-exact and the avg is stable to the 1e-4 rounding."""
    e = read(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = e.select(
        "label",
        F.sqrt(sq).alias("norm"),
        F.element_at("embedding", 1).cast("double").alias("c0"),
    )
    return norms.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.min("norm"), 4).alias("min_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.avg("c0"), 4).alias("avg_c0"),
    )


@query(oracle="""
            SELECT o_orderstatus, o_orderpriority,
                   (CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
                    + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                     AS gid,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """)
def _q_grouping_cube(spark, sf_dir):
    """CUBE grouping sets over orders (status x priority): all four
    grouping combinations in ONE pass — Spark plans a single Expand +
    aggregate, not four scans. The grouping indicator is derived as
    (a IS NULL)*2 + (b IS NULL) on both sides to dodge engine-specific
    GROUPING_ID bit conventions (cols are non-null, so NULL means
    'rolled up')."""
    o = read(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            (
                F.when(F.col("o_orderstatus").isNull(), 2).otherwise(0)
                + F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
            ).alias("gid"),
            "n",
            "total",
        )
    )


@query(oracle="""
            SELECT event_type, count(*)::BIGINT AS n,
                   round(regr_slope(value, epoch(ts) / 86400.0), 6)
                     AS slope_per_day
            FROM events
            WHERE value IS NOT NULL
            GROUP BY event_type
            ORDER BY event_type
        """)
def _q_trend_per_group(spark, sf_dir):
    """Per-event-type value trend: OLS slope of value ~ time-in-days.
    Epoch must keep MICROSECONDS on both engines: Spark's unix_timestamp
    truncates to whole seconds while DuckDB's epoch() is fractional —
    NTZ -> timestamp (session tz is UTC, the driver's config) ->
    cast-to-double is the micros-exact twin of epoch()."""
    ev = read(spark, sf_dir, "events")
    day = F.col("ts").cast("timestamp").cast("double") / F.lit(86400.0)
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(F.col("value"), day), 6).alias(
                "slope_per_day"
            ),
        )
        .orderBy("event_type")
    )


@query(oracle="""
            WITH s AS (
              SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
              FROM orders
            )
            SELECT least(floor((o_totalprice - mn) / ((mx - mn) / 20)),
                         19)::INT AS bucket,
                   count(*)::BIGINT AS n,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM orders, s
            GROUP BY bucket ORDER BY bucket
        """)
def _q_price_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals: min/max scalar
    broadcast, map-side bucket assignment, map-combinable counts. Only
    order-independent aggregates (count/min/max) are emitted — identical
    expression tree both engines, no float-sum order exposure."""
    o = read(spark, sf_dir, "orders")
    s = F.broadcast(
        o.agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("mn"))
            / ((F.col("mx") - F.col("mn")) / 20)
        ),
        F.lit(19),
    ).cast("int")
    return (
        o.crossJoin(s)
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(oracle="""
            WITH per_user AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              AND value > 150 THEN 1
                         ELSE 0 END) AS conv,
                     (user_id % 2)::INT AS arm
              FROM events GROUP BY user_id
            ),
            m AS (
              SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_a,
                     sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT
                       AS conv_a,
                     sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_b,
                     sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT
                       AS conv_b
              FROM per_user
            )
            SELECT n_a, conv_a, n_b, conv_b,
                   round(
                     (conv_a / CAST(n_a AS DOUBLE)
                      - conv_b / CAST(n_b AS DOUBLE))
                     / sqrt(
                         ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                         * (1 - (conv_a + conv_b)
                                / CAST(n_a + n_b AS DOUBLE))
                         * (1 / CAST(n_a AS DOUBLE)
                            + 1 / CAST(n_b AS DOUBLE))),
                     6) AS z
            FROM m
        """)
def _q_ab_test(spark, sf_dir):
    """Two-proportion z-test between deterministic user arms (user_id
    parity): did arm A convert (>=1 purchase over 150) more than arm B?
    (Every user has SOME purchase in the synthetic data — the value
    threshold keeps the pooled proportion off the degenerate 0/1 edge
    where the z denominator vanishes.) All margins integer-derived
    per-user flags; z is one identical float expression both engines
    (rounded 6dp)."""
    ev = read(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p1 = F.col("conv_a") / F.col("n_a")
    p2 = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return m.select(
        "n_a", "conv_a", "n_b", "conv_b", F.round(z, 6).alias("z")
    )


@query(oracle="""
            WITH monthly AS (
              SELECT o_orderpriority AS priority,
                     date_trunc('month', o_orderdate)::DATE AS month,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       ::BIGINT AS rev_cents
              FROM orders GROUP BY 1, 2
            )
            SELECT priority, month, rev_cents,
                   CASE WHEN lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month
                        ) > 0 THEN
                     floor(
                       (rev_cents - lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month))
                       / lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month
                        )::DOUBLE * 1e6) / 1e6
                   END AS mom_growth
            FROM monthly
        """)
def _q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per order priority: BIGINT cent
    revenue sums per (priority, month), lag window per priority,
    growth rate floor-6dp — the period-over-period report every
    warehouse runs."""
    o = read(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        F.col("o_orderpriority").alias("priority"),
        "month",
        "rev_cents",
        F.when(
            prev > 0,
            F.floor(
                (F.col("rev_cents") - prev) / prev.cast("double") * 1e6
            )
            / 1e6,
        ).alias("mom_growth"),
    )
