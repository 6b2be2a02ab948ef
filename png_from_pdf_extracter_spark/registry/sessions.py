"""Driver queries over ``operators/sessions.py`` (sessionization and event
transitions)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators.sessions import (
    event_transitions,
    label_runs,
    last_touch_attribution,
    session_stats,
    sessionize,
    turn_churn,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH b AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS st
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT user_id, event_id,
                   (sum(st) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING))::INTEGER
                     AS session_idx
            FROM b
        """)
def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min) over the events stream."""
    e = read(spark, sf_dir, "events")
    return sessionize(e, "user_id", "ts", 1800, tiebreak_col="event_id").select(
        "user_id", "event_id", "session_idx"
    )


@query(oracle="""
            WITH b AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS st
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ),
            s AS (
              SELECT user_id, ts,
                     (sum(st) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING))::INTEGER
                       AS session_idx
              FROM b
            )
            SELECT user_id, session_idx,
                   min(floor(epoch(ts)))::BIGINT AS start_epoch,
                   max(floor(epoch(ts)))::BIGINT AS end_epoch,
                   count(*) AS n_events,
                   (max(floor(epoch(ts))) - min(floor(epoch(ts))))::BIGINT
                     AS duration_s
            FROM s GROUP BY user_id, session_idx
        """)
def _q_session_stats(spark, sf_dir):
    """Per-session rollup: bounds (as epochs), count, duration."""
    e = read(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 1800, tiebreak_col="event_id")
    st = session_stats(s, "user_id", "ts")
    return st.select(
        "user_id",
        "session_idx",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "n_events",
        "duration_s",
    )


@query(oracle="""
            WITH seq AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS from_type,
                     event_type AS to_type
              FROM events
            ),
            pairs AS (
              SELECT from_type, to_type, count(*)::BIGINT AS n
              FROM seq WHERE from_type IS NOT NULL
              GROUP BY from_type, to_type
            ),
            tot AS (
              SELECT from_type, sum(n)::BIGINT AS n_from
              FROM pairs GROUP BY from_type
            )
            SELECT p.from_type, p.to_type, p.n,
                   round(p.n / CAST(n_from AS DOUBLE), 6) AS p
            FROM pairs p JOIN tot USING (from_type)
            ORDER BY from_type, to_type
        """)
def _q_event_transitions(spark, sf_dir):
    ev = read(spark, sf_dir, "events")

    return event_transitions(ev, order_cols=("event_id",))


@query(oracle="""
            WITH touched AS (
              SELECT user_id, event_type,
                     last_value(
                       CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS
                     ) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS touch
              FROM events
            )
            SELECT coalesce(touch, 'direct') AS channel,
                   count(*)::BIGINT AS n_conversions,
                   count(DISTINCT user_id)::BIGINT AS n_users
            FROM touched WHERE event_type = 'purchase'
            GROUP BY coalesce(touch, 'direct')
        """)
def _q_attribution(spark, sf_dir):
    """Last-touch conversion attribution over the events stream
    (operators/sessions.py last_touch_attribution): purchases credited
    to the latest preceding non-purchase touch via one ignorenulls
    last() window, channel rollup after — no self-join."""

    ev = read(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", ("ts", "event_id"), "event_type", "purchase"
    )


@query(oracle="""
            WITH t AS (
              SELECT source, doc_id,
                     list_distinct(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS toks
              FROM documents
            ),
            w AS (
              SELECT source, doc_id, toks,
                     lag(toks) OVER (
                       PARTITION BY source ORDER BY doc_id
                     ) AS prev
              FROM t
            ),
            j AS (
              SELECT source, doc_id, len(toks)::INT AS n_tokens,
                     round(len(list_intersect(toks, prev))
                           / len(list_distinct(toks || prev))::DOUBLE, 4)
                       AS prev_jaccard
              FROM w
              WHERE prev IS NOT NULL
                AND len(list_distinct(toks || prev)) > 0
            )
            SELECT * FROM j WHERE prev_jaccard >= 0.8
        """)
def _q_turn_churn(spark, sf_dir):
    """Consecutive-turn token-set Jaccard (operators/sessions.py
    turn_churn): flags turns >= 0.8 similar to their predecessor in the
    same conversation — the fuzzy agent-loop detector (label_runs'
    exact-label twin misses paraphrased repeats). One window lag + JVM
    array_intersect/array_union, no Python."""

    d = read(spark, sf_dir, "documents")
    return turn_churn(d, "source", ["doc_id"], "text", min_jaccard=0.8)


@query(oracle="""
            WITH o AS (
              SELECT user_id, event_type, ts,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                     ) AS rk
              FROM events
            )
            SELECT user_id, event_type, count(*)::INTEGER AS run_len,
                   min(ts) AS start_ts, max(ts) AS end_ts
            FROM o GROUP BY user_id, event_type, rn - rk
            HAVING count(*) >= 3
        """)
def _q_event_loops(spark, sf_dir):
    """Run-length loop detection (operators/sessions.py label_runs):
    maximal runs of >= 3 consecutive identical event types per user —
    gaps-and-islands with one Exchange + one shared Sort. The
    transcript-native twin (same operator on (conv_id, turn_idx, tool))
    flags agent tool-loops; tests/test_sessions.py covers both."""

    ev = read(spark, sf_dir, "events")
    return label_runs(
        ev, "user_id", "event_type", ["ts", "event_id"], min_run=3
    )
