"""Driver queries over ``operators/temporal.py`` (as-of and range joins,
temporal windows)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators.temporal import (
    asof_join,
    asof_join_broadcast,
    asof_join_skewed,
    detect_gaps,
    ewma,
    holt_linear,
    interval_union,
    range_join,
    seasonal_profile_dow,
    time_weighted_avg,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   floor(epoch(p.ts))::BIGINT AS purchase_epoch,
                   c.event_id AS click_id,
                   round(c.value, 2) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """)
def _q_asof_attr(spark, sf_dir):
    """Purchase->click attribution: each purchase matched to the user's
    most recent at-or-before click via the single-shuffle union+window
    as-of join (operators/temporal.py) — DuckDB's native ASOF JOIN is the
    oracle."""
    e = read(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(p, c, ["user_id"], "ts", "ts", ["event_id", "value"])
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("event_id_right").alias("click_id"),
        F.round("value_right", 2).alias("click_value"),
    )


@query(oracle="""
            SELECT v.user_id, v.event_id AS view_id, s.event_id AS signup_id
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'signup') s
              ON v.user_id = s.user_id AND v.ts >= s.ts
        """)
def _q_asof_dim(spark, sf_dir):
    """Broadcast as-of variant (small dimension timeline): each view event
    matched to the user's most recent signup — the big side never
    shuffles (plan pinned in tests/test_temporal.py)."""
    e = read(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join_broadcast(v, s, ["user_id"], "ts", "ts", ["event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("event_id_right").alias("signup_id"),
    )


@query(oracle="""
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   floor(epoch(p.ts))::BIGINT AS purchase_epoch,
                   c.event_id AS click_id,
                   round(c.value, 2) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """)
def _q_asof_skewed(spark, sf_dir):
    """Same attribution as q_asof_attr but through the hot-key-safe
    coarse-time-bucket as-of variant (operators/temporal.py
    asof_join_skewed) — semantics identical, so the same DuckDB native
    ASOF JOIN oracle must match hash-exactly."""
    e = read(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_skewed(
        p, c, ["user_id"], "ts", "ts", ["event_id", "value"],
        bucket_seconds=6 * 3600,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("event_id_right").alias("click_id"),
        F.round("value_right", 2).alias("click_value"),
    )


@query(oracle="""
            SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'error') e
              ON c.user_id = e.user_id
             AND c.ts >= e.ts
             AND c.ts <= e.ts + INTERVAL 600 SECONDS
        """)
def _q_range_attr(spark, sf_dir):
    """Clicks inside a 10-minute window after any error of the same user —
    bucketized interval join (equi-join on (key, time-bucket) + exact
    filter) instead of the O(LxR) inequality join."""
    e = read(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("w_end"),
        F.col("event_id").alias("error_id"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = range_join(clk, err, ["user_id"], "ts", "w_start", "w_end",
                     bucket_seconds=300)
    return out.select("user_id", "click_id", "error_id")


@query(oracle="""
            SELECT c.user_id, c.event_id AS click_id,
                   floor(epoch(c.ts))::BIGINT AS click_epoch,
                   p.event_id AS next_purchase_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        """)
def _q_asof_forward(spark, sf_dir):
    """Forward as-of: each click matched to the user's EARLIEST at-or-after
    purchase (time-to-conversion shape) — asof_join(direction='forward')
    against DuckDB's forward ASOF comparator."""
    e = read(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        c, p, ["user_id"], "ts", "ts", ["event_id"], direction="forward"
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_timestamp("ts").alias("click_epoch"),
        F.col("event_id_right").alias("next_purchase_id"),
    )


@query(oracle="""
            WITH s AS (
              SELECT user_id,
                     floor(value * 100.0)::BIGINT AS vq,
                     lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, floor(value * 100.0)::BIGINT ASC
                     ) - epoch_us(ts) AS dur
              FROM events
            )
            SELECT user_id,
                   count(*)::BIGINT AS n_intervals,
                   sum(dur)::BIGINT AS total_dur_us,
                   CASE WHEN sum(dur) > 0 THEN
                     floor(sum(vq * dur)::BIGINT::DOUBLE
                           / (sum(dur)::BIGINT * 100)::DOUBLE * 1e6) / 1e6
                   END AS twa_q
            FROM s WHERE dur IS NOT NULL
            GROUP BY user_id
        """)
def _q_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average of the event value signal
    (operators/temporal.py time_weighted_avg): unix_micros BIGINT
    timestamps (no seconds truncation), 2dp value quantization sized so
    every product stays under 2^63, one window + one aggregate on the
    same exchange."""

    ev = read(spark, sf_dir, "events")
    return time_weighted_avg(ev, ("user_id",), "ts", "value")


@query(oracle="""
            WITH RECURSIVE seq AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            rec AS (
              SELECT user_id, rn, n, value::DOUBLE AS s
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT seq.user_id, seq.rn, seq.n,
                     rec.s * 0.75 + seq.value * 0.25
              FROM rec JOIN seq
                ON seq.user_id = rec.user_id AND seq.rn = rec.rn + 1
            )
            SELECT user_id, n::BIGINT AS n_events,
                   floor(s * 1e6) / 1e6 AS ewma
            FROM rec WHERE rn = n
        """)
def _q_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average (α=1/4 dyadic) of
    event values under (ts, event_id) order (operators/temporal.py
    ewma): JVM-side sort_array(collect_list) + aggregate fold, bounded
    by per-key sequence length; bit-reproducible vs the DuckDB
    recursive-CTE oracle because both fold identical doubles through
    the identical expression in the identical order."""

    ev = read(spark, sf_dir, "events")
    return ewma(ev, ("user_id",), ("ts", "event_id"), "value")


@query(oracle="""
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     greatest(
                       epoch_us(ts)
                       + CAST(round(value) AS BIGINT) * 1000000,
                       epoch_us(ts)
                     ) AS e
              FROM events
            ),
            flagged AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                          ) IS NULL
                          OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                          )
                     THEN 1 ELSE 0 END AS f
              FROM iv
            ),
            isl AS (
              SELECT user_id, s, e,
                     sum(f) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS island
              FROM flagged
            ),
            pi AS (
              SELECT user_id, island, count(*) AS n,
                     min(s) AS i_s, max(e) AS i_e
              FROM isl GROUP BY user_id, island
            )
            SELECT user_id,
                   sum(n)::BIGINT AS n_intervals,
                   count(*)::BIGINT AS n_islands,
                   sum(i_e - i_s)::BIGINT AS covered_us,
                   (max(i_e) - min(i_s))::BIGINT AS span_us
            FROM pi GROUP BY user_id
        """)
def _q_interval_union(spark, sf_dir):
    """Per-user union of overlapping activity intervals [ts, ts +
    value seconds] (operators/temporal.py interval_union): classic
    gaps-and-islands on BIGINT unix_micros endpoints, every window and
    aggregate on one user_id exchange; covered_us counts overlaps
    once."""

    ev = read(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + (F.round(F.col("value"), 0).cast("long") * 1000000)
            )
        ).alias("end_ts"),
    )
    return interval_union(iv, ("user_id",), "start_ts", "end_ts")


@query(oracle="""
            WITH RECURSIVE seq AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            init AS (
              SELECT a.user_id, a.n,
                     a.value::DOUBLE AS x1,
                     b.value::DOUBLE AS x2
              FROM seq a LEFT JOIN seq b
                ON a.user_id = b.user_id AND b.rn = 2
              WHERE a.rn = 1
            ),
            rec AS (
              SELECT user_id, n, 1 AS rn,
                     x1 AS l, (x2 - x1) AS b
              FROM init WHERE n >= 2
              UNION ALL
              SELECT rec.user_id, rec.n, seq.rn,
                     seq.value * 0.25 + (rec.l + rec.b) * 0.75,
                     ((seq.value * 0.25 + (rec.l + rec.b) * 0.75)
                        - rec.l) * 0.125
                       + rec.b * 0.875
              FROM rec JOIN seq
                ON seq.user_id = rec.user_id AND seq.rn = rec.rn + 1
            ),
            fin AS (
              SELECT user_id, n, l, b FROM rec WHERE rn = n
              UNION ALL
              SELECT user_id, n, x1 AS l, 0.0 AS b
              FROM init WHERE n = 1
            )
            SELECT user_id, n::BIGINT AS n_events,
                   floor(l * 1e6) / 1e6 AS level,
                   floor(b * 1e6) / 1e6 AS trend,
                   floor((l + b) * 1e6) / 1e6 AS forecast
            FROM fin
        """)
def _q_holt(spark, sf_dir):
    """Holt linear (double-exponential) smoothing per user
    (operators/temporal.py holt_linear): level + trend + one-step
    forecast of the event value series — ewma's bit-reproducible
    dyadic-coefficient fold extended with a trend state; the DuckDB
    twin is a two-state recursive CTE."""

    ev = read(spark, sf_dir, "events")
    return holt_linear(ev, ("user_id",), ("ts", "event_id"), "value")


@query(oracle="""
            WITH seq AS (
              SELECT user_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       AS gap_start,
                     ts AS gap_end
              FROM events
            )
            SELECT user_id, gap_start, gap_end,
                   CAST(floor((epoch_us(gap_end) - epoch_us(gap_start))
                              / 1000000.0) AS BIGINT) AS gap_seconds
            FROM seq
            WHERE gap_start IS NOT NULL
              AND floor((epoch_us(gap_end) - epoch_us(gap_start))
                        / 1000000.0) > 21600
        """)
def _q_gaps(spark, sf_dir):
    """Telemetry coverage gaps per user: consecutive events spaced
    more than 6 hours apart (operators/temporal.py detect_gaps) — one
    lag window on the entity key, BIGINT second deltas, map-side
    filter; the report a resumable ingest reads before declaring a
    range complete."""

    ev = read(spark, sf_dir, "events")
    return detect_gaps(ev, "ts", ("user_id",), min_gap_seconds=21600)


@query(oracle="""
            WITH base AS (
              SELECT event_type,
                     (dayofweek(ts) + 1)::INTEGER AS dow,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            cells AS (
              SELECT event_type, dow, count(*)::BIGINT AS n,
                     sum(v)::BIGINT AS sum_q
              FROM base GROUP BY event_type, dow
            ),
            tot AS (
              SELECT event_type, sum(n)::BIGINT AS nn,
                     sum(sum_q)::BIGINT AS ss
              FROM cells GROUP BY event_type
            )
            SELECT c.event_type, dow, n, sum_q,
                   floor(sum_q::DOUBLE / n::DOUBLE / 100.0 * 1e6) / 1e6
                     AS mean_q6,
                   floor((sum_q::DOUBLE / n::DOUBLE / 100.0
                          - ss::DOUBLE / nn::DOUBLE / 100.0) * 1e6) / 1e6
                     AS seasonal_q6
            FROM cells c JOIN tot t ON c.event_type = t.event_type
        """)
def _q_seasonal_dow(spark, sf_dir):
    """Day-of-week seasonal profile of event value per event type
    (operators/temporal.py seasonal_profile_dow): per-cell BIGINT
    (n, sum) re-aggregated into group totals, seasonal offset vs the
    overall mean as one fixed-order float — the deseasonalizer run
    before any weekly-cycled metric meets a trend test."""

    ev = read(spark, sf_dir, "events")
    return seasonal_profile_dow(
        ev, "ts", "value", ("event_type",), quantize=2
    )
