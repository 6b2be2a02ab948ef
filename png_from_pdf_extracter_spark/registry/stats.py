"""Driver queries over ``functions/stats.py`` (statistical tests and
estimators)."""

import math as _math

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text
from png_from_pdf_extracter_spark.functions.stats import (
    autocorr_lag1,
    benford_digits,
    bh_fdr,
    brunner_munzel,
    changepoint_single,
    chi2_independence,
    cliffs_delta,
    cochran_armitage,
    cochran_q,
    competing_risks_cif,
    concordance_agreement,
    correlogram,
    cramer_von_mises_2s,
    cramers_v,
    cucconi_test,
    cuped_adjust,
    cusum_drift,
    did_estimate,
    durbin_watson,
    energy_distance_2s,
    gini_concentration,
    group_influence,
    hill_tail_index,
    hodges_lehmann,
    holm_bonferroni,
    inequality_indices,
    interrater_reliability,
    jackknife_group_se,
    kaplan_meier,
    kendall_tau_b,
    kruskal_wallis,
    log_rank_test,
    mann_kendall,
    mann_whitney_u,
    mood_median_test,
    nelson_aalen,
    page_trend_test,
    poisson_bootstrap_ci,
    rmst,
    rolling_median,
    running_distinct,
    runs_test,
    spearman_corr,
    theil_sen_slope,
    weighted_quantile,
    welch_t_test,
    wilcoxon_signed_rank,
    winsorize,
    yuen_trimmed_t,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    NTOK_SQL,
    read,
)


def _surv_obs(spark, sf_dir):
    """Shared time-to-convert observation builder for the survival
    family (q_kaplan_meier inlines the same construction): per signup
    user, minutes from first signup to first subsequent purchase,
    right-censored at the user's last event; arm = user_id parity for
    the two-sample tests."""
    ev = read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "event_type", us.alias("us"))
    anchors = base.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("us"))
        ).alias("s0"),
        F.max("us").alias("last_us"),
    ).filter(F.col("s0").isNotNull())
    conv = (
        base.join(anchors, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("us") >= F.col("s0"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p0"))
    )
    return anchors.join(conv, "user_id", "left").select(
        F.floor(
            (F.coalesce("p0", "last_us") - F.col("s0")) / F.lit(60000000)
        ).alias("dur_min"),
        F.col("p0").isNotNull().cast("int").alias("event"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )


# exact doubles embedded in BOTH engines' expressions so no libm
# log10 call can diverge (repr round-trips the IEEE double exactly)
_BENFORD_CASE = "CASE digit " + " ".join(
    # ::DOUBLE: bare decimal literals are DECIMAL in DuckDB and the
    # chi2 products overflow DECIMAL(38); the engine must do IEEE math
    f"WHEN {d} THEN {_math.log10(1 + 1 / d)!r}::DOUBLE"
    for d in range(1, 10)
) + " ELSE 0.0::DOUBLE END"

_KM_SQL = """
            WITH base AS (
              SELECT user_id, event_type, epoch_us(ts) AS us FROM events
            ),
            anchors AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN us END)
                       AS s0,
                     max(us) AS last_us
              FROM base GROUP BY user_id
              HAVING min(CASE WHEN event_type = 'signup' THEN us END)
                     IS NOT NULL
            ),
            conv AS (
              SELECT b.user_id, min(b.us) AS p0
              FROM base b JOIN anchors a ON b.user_id = a.user_id
              WHERE b.event_type = 'purchase' AND b.us >= a.s0
              GROUP BY b.user_id
            ),
            obs AS (
              SELECT CAST(floor(
                       (coalesce(c.p0, a.last_us) - a.s0) / 60000000.0
                     ) AS BIGINT) AS t,
                     CASE WHEN c.p0 IS NOT NULL THEN 1 ELSE 0 END AS e
              FROM anchors a LEFT JOIN conv c ON a.user_id = c.user_id
            ),
            cnt AS (
              SELECT t, sum(e)::BIGINT AS d,
                     sum(1 - e)::BIGINT AS c
              FROM obs GROUP BY t
            ),
            tot AS (SELECT sum(d + c) AS n_total FROM cnt),
            risk AS (
              SELECT t, d, c,
                     (n_total - coalesce(sum(d + c) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS n
              FROM cnt, tot
            ),
            stepped AS (
              SELECT t, n, d, c,
                     sum(CASE WHEN d = 0 THEN 0
                              WHEN d < n THEN CAST(floor(
                                ln(1.0 - d / n) * 1e9) AS BIGINT)
                         END) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
                     max(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS dead
              FROM risk
            )
            SELECT t AS duration, n::BIGINT AS n_at_risk,
                   d AS d_events, c AS c_censored,
                   CASE WHEN dead = 1 THEN 0.0
                        ELSE floor(exp(cum / 1e9) * 1e6) / 1e6
                   END AS survival_q
            FROM stepped
        """

_SURV_OBS_SQL = """
            base AS (
              SELECT user_id, event_type, epoch_us(ts) AS us FROM events
            ),
            anchors AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN us END)
                       AS s0,
                     max(us) AS last_us
              FROM base GROUP BY user_id
              HAVING min(CASE WHEN event_type = 'signup' THEN us END)
                     IS NOT NULL
            ),
            conv AS (
              SELECT b.user_id, min(b.us) AS p0
              FROM base b JOIN anchors a ON b.user_id = a.user_id
              WHERE b.event_type = 'purchase' AND b.us >= a.s0
              GROUP BY b.user_id
            ),
            obs AS (
              SELECT CAST(floor(
                       (coalesce(c.p0, a.last_us) - a.s0) / 60000000.0
                     ) AS BIGINT) AS t,
                     CASE WHEN c.p0 IS NOT NULL THEN 1 ELSE 0 END AS e,
                     CAST(a.user_id % 2 AS INT) AS arm
              FROM anchors a LEFT JOIN conv c ON a.user_id = c.user_id
            )
"""

_NA_SQL = (
    "WITH "
    + _SURV_OBS_SQL
    + """,
            cnt AS (
              SELECT t, sum(e)::BIGINT AS d, sum(1 - e)::BIGINT AS c
              FROM obs GROUP BY t
            ),
            tot AS (SELECT sum(d + c) AS n_total FROM cnt),
            risk AS (
              SELECT t, d, c,
                     (n_total - coalesce(sum(d + c) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS n
              FROM cnt, tot
            ),
            stepped AS (
              SELECT t, n, d, c,
                     sum(CAST(floor(
                       CAST(d AS DOUBLE) * 1e9 / CAST(n AS DOUBLE)
                     ) AS BIGINT)) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum
              FROM risk
            )
            SELECT t AS duration, n::BIGINT AS n_at_risk,
                   d AS d_events, c AS c_censored,
                   floor(CAST(cum AS DOUBLE) / 1e3) / 1e6 AS hazard_q
            FROM stepped
        """
)

_LOGRANK_SQL = (
    "WITH "
    + _SURV_OBS_SQL
    + """,
            tagged AS (
              SELECT t, e,
                     CASE WHEN arm = (SELECT min(arm) FROM obs)
                          THEN 1 ELSE 0 END AS a
              FROM obs
            ),
            cnt AS (
              SELECT t,
                     sum(e * a)::BIGINT AS d_a,
                     sum(e * (1 - a))::BIGINT AS d_b,
                     sum((1 - e) * a)::BIGINT AS c_a,
                     sum((1 - e) * (1 - a))::BIGINT AS c_b
              FROM tagged GROUP BY t
            ),
            tot AS (
              SELECT sum(d_a + c_a) AS tot_a, sum(d_b + c_b) AS tot_b
              FROM cnt
            ),
            risk AS (
              SELECT t, d_a, d_b, tot_a, tot_b,
                     (tot_a - coalesce(sum(d_a + c_a) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS r_a,
                     (tot_b - coalesce(sum(d_b + c_b) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS r_b
              FROM cnt, tot
            ),
            ag AS (
              SELECT max(tot_a) AS tot_a, max(tot_b) AS tot_b,
                     sum(d_a)::BIGINT AS o_a,
                     sum(CAST(floor(
                       CAST((d_a + d_b) * r_a AS DOUBLE)
                       / CAST(r_a + r_b AS DOUBLE) * 1e9
                     ) AS BIGINT))::BIGINT AS e9,
                     sum(CAST(floor(
                       CAST((d_a + d_b) * r_a AS DOUBLE)
                       * CAST(r_b AS DOUBLE)
                       * CAST(r_a + r_b - d_a - d_b AS DOUBLE)
                       / (CAST(r_a + r_b AS DOUBLE)
                          * CAST(r_a + r_b AS DOUBLE)
                          * CAST(r_a + r_b - 1 AS DOUBLE))
                       * 1e9
                     ) AS BIGINT))::BIGINT AS v9
              FROM risk
              WHERE (d_a + d_b) > 0 AND (r_a + r_b) > 1
            )
            SELECT tot_a::BIGINT AS n_a, tot_b::BIGINT AS n_b, o_a,
                   floor(CAST(e9 AS DOUBLE) / 1e3) / 1e6 AS e_a_q6,
                   floor(CAST(v9 AS DOUBLE) / 1e3) / 1e6 AS v_q6,
                   CASE WHEN v9 > 0 THEN floor(
                     (CAST(o_a AS DOUBLE) - CAST(e9 AS DOUBLE) / 1e9)
                     * (CAST(o_a AS DOUBLE) - CAST(e9 AS DOUBLE) / 1e9)
                     / (CAST(v9 AS DOUBLE) / 1e9) * 1e6) / 1e6
                   END AS chi2_q6
            FROM ag
        """
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
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                     END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb_below,
                     coalesce(sum(ca) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS ca_below
              FROM cnt
            )
            SELECT sum(ca)::BIGINT AS n_a,
                   sum(cb)::BIGINT AS n_b,
                   sum(ca * (2 * cb_below + cb))::BIGINT AS u2_a,
                   sum(cb * (2 * ca_below + ca))::BIGINT AS u2_b,
                   CASE WHEN sum(ca) > 0 AND sum(cb) > 0 THEN
                     floor(sum(ca * (2 * cb_below + cb))::DOUBLE
                           / (2.0 * sum(ca) * sum(cb)) * 1e6) / 1e6
                   END AS auc_a
            FROM cum
        """)
def _q_mann_whitney(spark, sf_dir):
    """Two-sample Mann-Whitney U between the BUILDING and MACHINERY
    customer segments on account balance (functions/stats.py
    mann_whitney_u): integer 2U statistics from per-distinct-value
    counts (window bounded by value cardinality, not rows), AUC
    effect size floor-6dp. u2_a + u2_b == 2*n_a*n_b pinned in tests."""

    c = read(spark, sf_dir, "customer")
    return mann_whitney_u(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS qx,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS qy
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL
            ),
            rx AS (
              SELECT qx,
                     2 * coalesce(sum(c) OVER (
                       ORDER BY qx
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) + c + 1 AS r2x
              FROM (SELECT qx, count(*) AS c FROM base GROUP BY qx)
            ),
            ry AS (
              SELECT qy,
                     2 * coalesce(sum(c) OVER (
                       ORDER BY qy
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) + c + 1 AS r2y
              FROM (SELECT qy, count(*) AS c FROM base GROUP BY qy)
            ),
            s AS (
              SELECT count(*)::HUGEINT AS n,
                     sum(r2x::HUGEINT) AS sx,
                     sum(r2y::HUGEINT) AS sy,
                     sum(r2x::HUGEINT * r2x) AS sxx,
                     sum(r2y::HUGEINT * r2y) AS syy,
                     sum(r2x::HUGEINT * r2y) AS sxy
              FROM base JOIN rx USING (qx) JOIN ry USING (qy)
            )
            SELECT n::BIGINT AS n_pairs,
                   sx::BIGINT AS sx2,
                   sy::BIGINT AS sy2,
                   CASE WHEN (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0 THEN
                     floor((n * sxy - sx * sy)::DOUBLE
                           / (sqrt((n * sxx - sx * sx)::DOUBLE)
                              * sqrt((n * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS rho
            FROM s
        """)
def _q_spearman(spark, sf_dir):
    """Spearman rank correlation (tie-corrected, exact doubled-rank
    integers accumulated in DECIMAL(38,0)) between order totalprice and
    the ordering customer's account balance (functions/stats.py
    spearman_corr) — rank maps per distinct quantized value, one float
    expression at the end."""

    o = read(spark, sf_dir, "orders")
    c = read(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_totalprice", "c_acctbal"
    )
    return spearman_corr(j, "o_totalprice", "c_acctbal")


@query(oracle="""
            WITH seq AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS x,
                     lead(CAST(round(value * 100) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS y
              FROM events
            ),
            s AS (
              SELECT user_id,
                     count(*)::BIGINT AS n_pairs,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * x)::BIGINT AS sxx,
                     sum(y * y)::BIGINT AS syy,
                     sum(x * y)::BIGINT AS sxy
              FROM seq WHERE y IS NOT NULL
              GROUP BY user_id
            )
            SELECT user_id, n_pairs, sx, sy, sxy,
                   CASE WHEN (n_pairs * sxx - sx * sx) > 0
                         AND (n_pairs * syy - sy * sy) > 0 THEN
                     floor((n_pairs * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS r1
            FROM s
        """)
def _q_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of the event value signal
    (functions/stats.py autocorr_lag1): one lead() window + Pearson
    sums on the SAME user_id exchange, exact BIGINT sums, r1 floor-6dp.
    Stable order = (ts, event_id)."""

    ev = read(spark, sf_dir, "events")
    return autocorr_lag1(ev, ("user_id",), ("ts", "event_id"), "value")


@query(oracle="""
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                     ) = 1 THEN 1 ELSE 0 END AS first_f
              FROM events
            )
            SELECT user_id, event_id,
                   sum(first_f) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS n_distinct
            FROM flagged
        """)
def _q_running_distinct(spark, sf_dir):
    """Cumulative distinct event types per user as of each event
    (functions/stats.py running_distinct): exact first-occurrence-flag
    decomposition of the COUNT(DISTINCT) running frame no engine
    supports natively — two hash-keyed windows, no single-partition
    stage."""

    ev = read(spark, sf_dir, "events")
    return running_distinct(
        ev, ("user_id",), ("ts", "event_id"), "event_type"
    ).select("user_id", "event_id", "n_distinct")


@query(oracle="""
            WITH marked AS (
              SELECT user_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS k,
                     sum(CAST(round(value * 10) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sl,
                     sum(CAST(round(value * 10) AS BIGINT)) OVER (
                       PARTITION BY user_id
                     ) AS st,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            scored AS (
              SELECT user_id, k, n, sl, st,
                     (sl * (n - k) - (st - sl) * k)::DOUBLE
                     * (sl * (n - k) - (st - sl) * k)::DOUBLE
                     / (k * (n - k))::DOUBLE AS bss
              FROM marked
              WHERE k >= 2 AND k <= n - 2
            ),
            best AS (
              SELECT user_id, k, n, sl, st, bss,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY bss DESC, k ASC
                     ) AS r
              FROM scored
            )
            SELECT user_id, n::BIGINT AS n, k::BIGINT AS k_star,
                   floor(sl::DOUBLE / (k * 10.0) * 1e6) / 1e6
                     AS mean_left,
                   floor((st - sl)::DOUBLE / ((n - k) * 10.0) * 1e6)
                     / 1e6 AS mean_right,
                   floor(bss * 100) / 100 AS bss_q2
            FROM best WHERE r = 1
        """)
def _q_changepoint(spark, sf_dir):
    """Exact single-changepoint per user on the event value signal
    (functions/stats.py changepoint_single): argmax of between-segment
    contrast from BIGINT prefix sums, smallest-k tie-break — all
    windows on one user_id exchange."""

    ev = read(spark, sf_dir, "events")
    return changepoint_single(
        ev, ("user_id",), ("ts", "event_id"), "value"
    )


@query(oracle=f"""
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS q
              FROM orders
              WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
            ),
            cnt AS (
              SELECT CAST(substring(q::VARCHAR, 1, 1) AS INT) AS digit,
                     count(*)::BIGINT AS n
              FROM base GROUP BY 1
            ),
            tot AS (SELECT sum(n) AS t FROM cnt)
            SELECT digit, n,
                   floor(n / t * 1e6) / 1e6 AS share_q,
                   floor(({_BENFORD_CASE}) * 1e6) / 1e6 AS expected_q,
                   floor(
                     (n - t * ({_BENFORD_CASE}))
                     * (n - t * ({_BENFORD_CASE}))
                     / (t * ({_BENFORD_CASE})) * 1e6
                   ) / 1e6 AS chi2_term_q
            FROM cnt, tot
        """)
def _q_benford(spark, sf_dir):
    """First-significant-digit distribution of order totalprice vs
    Benford's law (functions/stats.py benford_digits): leading digit
    taken from the quantized BIGINT's decimal string (libm-proof),
    expected shares as exact embedded constants, chi2 per digit row."""

    o = read(spark, sf_dir, "orders")
    return benford_digits(o, "o_totalprice", ())


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


@query(oracle="""
            WITH w AS (
              SELECT lang, source AS g, sum(n_chars)::BIGINT AS w
              FROM documents GROUP BY lang, source
            ),
            r AS (
              SELECT lang, w,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY w ASC, g ASC
                     ) AS i
              FROM w
            ),
            a AS (
              SELECT lang, count(*)::BIGINT AS n, sum(w)::BIGINT AS tw,
                     sum(i::HUGEINT * w::HUGEINT) AS iw,
                     sum(w::HUGEINT * w::HUGEINT) AS w2,
                     max(w)::BIGINT AS wmax
              FROM r GROUP BY lang
            )
            SELECT lang, n AS n_groups, tw AS total_w,
                   CAST(floor(
                     (2::HUGEINT * iw - (n + 1)::HUGEINT * tw::HUGEINT)
                       ::DOUBLE
                     / (n::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS gini_ppm,
                   CAST(floor(
                     w2::DOUBLE
                     / (tw::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS hhi_ppm,
                   CAST(floor(wmax::DOUBLE / tw::DOUBLE * 1e6)
                        AS BIGINT) AS top_share_ppm
            FROM a
        """)
def _q_gini_scoped(spark, sf_dir):
    """Per-language source concentration (stats.gini_concentration
    with scope_cols): the mix-balance diagnostic per stratum — one row
    per language, rank window partitioned by scope."""

    d = read(spark, sf_dir, "documents")
    return gini_concentration(
        d, "source", "n_chars", scope_cols=("lang",)
    )


@query(oracle="WITH km AS (" + _KM_SQL + "), "
    "half AS (SELECT min(duration) AS median_duration FROM km "
    "         WHERE survival_q <= 0.5), "
    "tot AS (SELECT count(*)::BIGINT AS n_times, "
    "        sum(d_events + c_censored)::BIGINT AS n_obs FROM km) "
    "SELECT n_times, n_obs, median_duration FROM tot, half")
def _q_median_survival(spark, sf_dir):
    """Median time-to-convert from the Kaplan-Meier curve
    (functions/stats.py kaplan_meier downstream): the smallest
    duration where survival drops to <= 0.5 — the single number a
    conversion report quotes; NULL-free because the q_kaplan_meier
    cohort always converts past half."""
    km = _q_kaplan_meier(spark, sf_dir)
    half = km.filter(F.col("survival_q") <= 0.5).agg(
        F.min("duration").alias("median_duration")
    )
    tot = km.agg(
        F.count("*").cast("long").alias("n_times"),
        F.sum(F.col("d_events") + F.col("c_censored"))
        .cast("long")
        .alias("n_obs"),
    )
    return tot.crossJoin(F.broadcast(half))


@query(oracle="""
            WITH v AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 60000000.0) AS BIGINT)
                       AS x,
                     CAST(round(value * 1000000, 0) AS BIGINT) AS yq
              FROM events
            ),
            p AS (
              SELECT a.user_id,
                     CAST(floor(
                       (b.yq - a.yq)::DOUBLE / (b.x - a.x)::DOUBLE
                     ) AS BIGINT) AS s
              FROM v a JOIN v b
                ON a.user_id = b.user_id AND a.x < b.x
            ),
            c AS (
              SELECT user_id, s, count(*)::BIGINT AS w
              FROM p GROUP BY user_id, s
            ),
            r AS (
              SELECT user_id, s,
                     sum(w) OVER (
                       PARTITION BY user_id ORDER BY s
                     )::BIGINT AS cum,
                     sum(w) OVER (PARTITION BY user_id)::BIGINT AS tot
              FROM c
            )
            SELECT user_id, tot AS n_pairs, min(s) AS slope_ppm
            FROM r
            WHERE cum * 2 >= tot
            GROUP BY user_id, tot
        """)
def _q_theil_sen(spark, sf_dir):
    """Theil-Sen robust per-user value trend (functions/stats.py
    theil_sen_slope): median pairwise slope of event value over a
    minute clock — pair join on the user key only, lower median by the
    exact integer reach test."""

    ev = read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(6e7)
        ).cast("long").alias("xmin"),
        "value",
    )
    return theil_sen_slope(ev, ("user_id",), "xmin", "value")


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
                     o_orderpriority AS g
              FROM orders
            ),
            vg AS (
              SELECT v, g, count(*)::BIGINT AS c FROM base GROUP BY v, g
            ),
            vt0 AS (SELECT v, sum(c)::BIGINT AS t FROM vg GROUP BY v),
            vt AS (
              SELECT v, t,
                     coalesce(sum(t) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS cb
              FROM vt0
            ),
            pc AS (
              SELECT g, sum(c)::BIGINT AS n_g,
                     sum(c * (2 * vt.cb + vt.t + 1))::BIGINT AS r2
              FROM vg JOIN vt USING (v) GROUP BY g
            ),
            stepped AS (
              SELECT sum(
                       (r2::DOUBLE / 2.0) * (r2::DOUBLE / 2.0)
                       / n_g::DOUBLE
                     ) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS s,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT s, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(t)::BIGINT AS n,
                     sum(t * t * t - t)::BIGINT AS tie3
              FROM vt
            )
            SELECT n, k, tie3,
                   floor((12.0 * s / (n::DOUBLE * (n::DOUBLE + 1.0))
                          - 3.0 * (n::DOUBLE + 1.0)) * 1e6) / 1e6
                     AS h_q6,
                   CASE WHEN (1.0 - tie3::DOUBLE
                              / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                                 - n::DOUBLE)) > 0
                        THEN floor(
                          (12.0 * s / (n::DOUBLE * (n::DOUBLE + 1.0))
                           - 3.0 * (n::DOUBLE + 1.0))
                          / (1.0 - tie3::DOUBLE
                             / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                                - n::DOUBLE)) * 1e6) / 1e6
                   END AS h_tie_q6
            FROM tt, sf
        """)
def _q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across the five order priorities on totalprice
    (functions/stats.py kruskal_wallis) — the k-group rank test. All
    rank sums exact BIGINTs off the distinct-value table; the float H
    is assembled with a FIXED per-class accumulation order (ordered
    window over the class key) so both engines add identical doubles."""

    o = read(spark, sf_dir, "orders")
    return kruskal_wallis(o, "o_totalprice", "o_orderpriority", quantize=2)


@query(oracle="""
            WITH v AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 60000000.0) AS BIGINT)
                       AS x,
                     CAST(round(value * 100, 0) AS BIGINT) AS vq
              FROM events
            ),
            s AS (
              SELECT a.user_id,
                     sum(CASE WHEN b.vq > a.vq THEN 1
                              WHEN b.vq < a.vq THEN -1
                              ELSE 0 END)::BIGINT AS s_stat
              FROM v a JOIN v b
                ON a.user_id = b.user_id AND a.x < b.x
              GROUP BY a.user_id
            ),
            n AS (
              SELECT user_id, count(*)::BIGINT AS n
              FROM v GROUP BY user_id
            ),
            t AS (
              SELECT user_id,
                     sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tt
              FROM (
                SELECT user_id, vq, count(*)::BIGINT AS t
                FROM v GROUP BY user_id, vq
              ) GROUP BY user_id
            )
            SELECT n.user_id, n.n, s.s_stat,
                   (n.n * (n.n - 1) * (2 * n.n + 5) - t.tt)::BIGINT
                     AS var18,
                   CASE WHEN (n.n * (n.n - 1) * (2 * n.n + 5) - t.tt) > 0
                        THEN floor(
                          (s.s_stat::DOUBLE
                           - (CASE WHEN s.s_stat > 0 THEN 1.0
                                   WHEN s.s_stat < 0 THEN -1.0
                                   ELSE 0.0 END))
                          / sqrt((n.n * (n.n - 1) * (2 * n.n + 5)
                                  - t.tt)::DOUBLE / 18.0) * 1e6) / 1e6
                   END AS z_q6
            FROM n JOIN s USING (user_id) JOIN t USING (user_id)
        """)
def _q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test per user on the event value
    over the minute clock (functions/stats.py mann_kendall) — the
    is-there-a-trend companion to q_theil_sen, same bounded-group pair
    join; S and the tie-corrected variance are exact BIGINTs, the only
    float is the continuity-corrected Z emit."""

    ev = read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(6e7)
        ).cast("long").alias("xmin"),
        "value",
    )
    return mann_kendall(ev, ("user_id",), "xmin", "value", quantize=2)


@query(oracle="""
            WITH b AS (
              SELECT user_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     )::INTEGER AS idx,
                     CAST(round(value * 100, 0) AS BIGINT) AS v_q
              FROM events
            ),
            p AS (
              SELECT user_id, idx, v_q,
                     sum(v_q - 25500) OVER (
                       PARTITION BY user_id ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS pp
              FROM b
            ),
            c AS (
              SELECT user_id, idx, v_q,
                     (pp - min(least(pp, 0)) OVER (
                        PARTITION BY user_id ORDER BY idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ))::BIGINT AS cusum_q
              FROM p
            )
            SELECT user_id, idx, v_q, cusum_q,
                   cusum_q > 200000 AS alarm
            FROM c
        """)
def _q_cusum(spark, sf_dir):
    """One-sided upper CUSUM drift monitor per user on event value
    (functions/stats.py cusum_drift): the classic max(0, S+x-k)
    recursion re-expressed as prefix-sum minus running minimum — two
    ordered windows over exact BIGINTs, one user_id exchange, alarm
    when the statistic clears the threshold."""

    ev = read(spark, sf_dir, "events")
    return cusum_drift(
        ev,
        ("user_id",),
        ("ts", "event_id"),
        "value",
        target_q=25_000,
        slack_q=500,
        threshold_q=200_000,
        quantize=2,
    )


@query(oracle="""
            WITH p AS (
              SELECT event_type AS g,
                     CAST(concat('0x', substr(
                       md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS pq
              FROM events
            ),
            k AS (
              SELECT g, pq,
                     count(*) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS k_le,
                     count(*) OVER (PARTITION BY g) AS m
              FROM p
            ),
            c AS (
              SELECT g, pq, k_le, m,
                     max(CASE WHEN pq * m * 100 <= k_le * 5 * 1000000
                              THEN pq END) OVER (PARTITION BY g) AS thr
              FROM k
            )
            SELECT g AS event_type, pq AS p_q,
                   k_le::BIGINT AS k_le, m::BIGINT AS m,
                   (thr IS NOT NULL AND pq <= thr) AS reject
            FROM c
        """)
def _q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control per event_type battery
    (functions/stats.py bh_fdr): the multiple-testing step over a
    battery of p-values. The synthetic corpus carries no real
    hypothesis battery, so each event contributes a deterministic
    uniform p derived from md5(event_id) — the q_pii_scrub framing:
    derived inputs exercise the REAL plan (range-frame tied ranks,
    integer BH condition, full-frame threshold) end to end."""

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("event_id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(1_000_000)
            ).cast("double")
            / F.lit(1e6)
        ).alias("p"),
    )
    return bh_fdr(ev, "p", group_cols=("event_type",))


@query(oracle="""
            WITH b AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS v_q
              FROM events
            ),
            cnt AS (
              SELECT g, v_q, count(*)::BIGINT AS c FROM b GROUP BY g, v_q
            ),
            cum AS (
              SELECT g, v_q, c,
                     sum(c) OVER (
                       PARTITION BY g ORDER BY v_q
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
                     sum(c) OVER (PARTITION BY g) AS n
              FROM cnt
            ),
            lo AS (
              SELECT g, min(v_q) AS lo FROM cum
              WHERE cum * 100 >= n * 5 GROUP BY g
            ),
            hi AS (
              SELECT g, min(v_q) AS hi FROM cum
              WHERE cum * 100 >= n * 95 GROUP BY g
            )
            SELECT b.g AS event_type, b.v_q,
                   greatest(least(b.v_q, hi.hi), lo.lo)::BIGINT AS v_wins,
                   (b.v_q < lo.lo OR b.v_q > hi.hi) AS clamped
            FROM b JOIN lo ON b.g = lo.g JOIN hi ON b.g = hi.g
        """)
def _q_winsorize_exact(spark, sf_dir):
    """Group-wise winsorization of event value into the [5%, 95%]
    band per event_type (functions/stats.py winsorize) — the
    EXACT-quantile, per-row twin of q_winsorize (which uses
    interpolated percentile() and emits a rollup): lower quantiles by
    the integer reach test over the per-group distinct-value table,
    group-keyed threshold join back, clamp + flag on every row."""

    ev = read(spark, sf_dir, "events")
    return winsorize(
        ev,
        "value",
        ("event_type",),
        lo_num=5,
        lo_den=100,
        hi_num=95,
        hi_den=100,
        quantize=2,
    )


@query(oracle="""
            WITH cells AS (
              SELECT lang AS a, source AS b, count(*)::BIGINT AS o
              FROM documents GROUP BY 1, 2
            ),
            rt AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
            ct AS (SELECT b, sum(o)::BIGINT AS cb FROM cells GROUP BY b),
            n AS (SELECT sum(o)::BIGINT AS N FROM cells),
            j AS (
              SELECT c.a, c.b, c.o,
                     (rt.ra::HUGEINT * ct.cb::HUGEINT)::DOUBLE
                       / n.N::DOUBLE AS e
              FROM cells c
              JOIN rt ON c.a = rt.a
              JOIN ct ON c.b = ct.b
              CROSS JOIN n
            )
            SELECT a, b, o AS observed,
                   CAST(floor(e * 1e6) AS BIGINT) AS expected_ppm,
                   CAST(floor(
                     (o::DOUBLE - e) * (o::DOUBLE - e) / e * 1e6
                   ) AS BIGINT) AS chi2_ppm
            FROM j
        """)
def _q_chi2_indep(spark, sf_dir):
    """Chi-square independence of lang x source on the documents table
    (functions/stats.py chi2_independence): per-cell observed /
    expected / contribution rows, margins re-aggregated from the cell
    table (never a second corpus pass)."""

    d = read(spark, sf_dir, "documents")
    return chi2_independence(d, "lang", "source")


@query(oracle="""
            WITH w AS (
              SELECT source AS g, sum(n_chars)::BIGINT AS w
              FROM documents GROUP BY source
            ),
            r AS (
              SELECT w, row_number() OVER (ORDER BY w ASC, g ASC) AS i
              FROM w
            ),
            a AS (
              SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS tw,
                     sum(i::HUGEINT * w::HUGEINT) AS iw,
                     sum(w::HUGEINT * w::HUGEINT) AS w2,
                     max(w)::BIGINT AS wmax
              FROM r
            )
            SELECT n AS n_groups, tw AS total_w,
                   CAST(floor(
                     (2::HUGEINT * iw - (n + 1)::HUGEINT * tw::HUGEINT)
                       ::DOUBLE
                     / (n::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS gini_ppm,
                   CAST(floor(
                     w2::DOUBLE
                     / (tw::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS hhi_ppm,
                   CAST(floor(wmax::DOUBLE / tw::DOUBLE * 1e6)
                        AS BIGINT) AS top_share_ppm
            FROM a
        """)
def _q_gini_sources(spark, sf_dir):
    """Corpus-concentration diagnostic (functions/stats.py
    gini_concentration): Gini / HHI / top-share of the per-source
    character mass of the documents table — the "is one domain
    dominating the training mix" gate, exact-integer construction."""

    d = read(spark, sf_dir, "documents")
    return gini_concentration(d, "source", "n_chars")


@query(oracle="""
            WITH f AS (
              SELECT e.event_type AS g, e.event_id AS id,
                     CAST(round(e.value * 1000000, 0) AS BIGINT) AS vq,
                     r.r
              FROM events e
              CROSS JOIN (SELECT unnest(range(40)) AS r) r
            ),
            h AS (
              SELECT g, r, vq,
                     CAST(('0x' || substring(
                       md5(id::VARCHAR || ':' || r::VARCHAR), 1, 15
                     )) AS BIGINT) AS hv
              FROM f
            ),
            c AS (
              SELECT g, r, vq,
                     ((hv >= 424136118829305344)::INT
                    + (hv >= 848272237658610688)::INT
                    + (hv >= 1060340297073263360)::INT
                    + (hv >= 1131029650211480960)::INT
                    + (hv >= 1148701988496035328)::INT
                    + (hv >= 1152236456152946176)::INT
                    + (hv >= 1152825534095764608)::INT
                    + (hv >= 1152909688087595776)::INT
                    + (hv >= 1152920207336574720)::INT)::BIGINT AS cnt
              FROM h
            ),
            rep AS (
              SELECT g, r, sum(cnt)::BIGINT AS n,
                     sum(cnt * vq)::BIGINT AS s
              FROM c GROUP BY g, r
              HAVING sum(cnt) > 0
            ),
            m AS (
              SELECT g,
                     CAST(floor(
                       s::DOUBLE / n::DOUBLE / 1000000.0 * 1e6
                     ) AS BIGINT) AS m_ppm
              FROM rep
            ),
            o AS (
              SELECT g, count(*)::BIGINT AS nr,
                     list_sort(list(m_ppm)) AS ms,
                     sum(m_ppm)::HUGEINT AS tot
              FROM m GROUP BY g
            )
            SELECT g AS event_type, nr AS n_replicas,
                   CAST(floor(tot::DOUBLE / nr::DOUBLE)
                        AS BIGINT) AS mean_ppm,
                   ms[CAST(floor((nr - 1) / 20.0) AS INT) + 1]
                     AS ci_lo_ppm,
                   ms[CAST(nr AS INT)
                      - CAST(floor((nr - 1) / 20.0) AS INT)]
                     AS ci_hi_ppm
            FROM o
        """)
def _q_bootstrap_ci(spark, sf_dir):
    """Distributed Poisson-bootstrap CI (functions/stats.py
    poisson_bootstrap_ci): per event_type, a 40-replica bootstrap
    confidence interval for the mean event value — every replica's
    resampled universe a pure md5 function of (event_id, r), so DuckDB
    materializes the identical draw."""

    ev = read(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return poisson_bootstrap_ci(
        ev, "event_id", "value", group_cols=("event_type",), replicas=40
    )


@query(oracle=_KM_SQL)
def _q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-convert (functions/stats.py kaplan_meier):
    per user, minutes from first signup to first subsequent purchase
    (right-censored at the user's last event when no purchase follows);
    survival via integer-quantized log steps — the order-independent
    running-sum construction, cross-engine exact."""

    ev = read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "event_type", us.alias("us"))
    anchors = base.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("us"))
        ).alias("s0"),
        F.max("us").alias("last_us"),
    ).filter(F.col("s0").isNotNull())
    conv = (
        base.join(anchors, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("us") >= F.col("s0"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p0"))
    )
    obs = anchors.join(conv, "user_id", "left").select(
        F.floor(
            (F.coalesce("p0", "last_us") - F.col("s0")) / F.lit(60000000)
        ).alias("dur_min"),
        F.col("p0").isNotNull().cast("int").alias("event"),
    )
    return kaplan_meier(obs, "dur_min", "event")


@query(oracle=_NA_SQL)
def _q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard (functions/stats.py nelson_aalen)
    over the same time-to-convert observations as q_kaplan_meier —
    per-step floor(d*1e9/n) BIGINT increments, libm-free and
    order-independent by construction."""

    return nelson_aalen(_surv_obs(spark, sf_dir), "dur_min", "event")


@query(oracle=_LOGRANK_SQL)
def _q_log_rank(spark, sf_dir):
    """Two-group log-rank test (functions/stats.py log_rank_test): do
    even- and odd-user survival curves differ? Hypergeometric E/V per
    event time quantized to BIGINT steps; chi2 from the two exact
    sums."""

    return log_rank_test(
        _surv_obs(spark, sf_dir), "dur_min", "event", "arm"
    )


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN v ELSE 0 END)::BIGINT AS s_a,
                sum(CASE WHEN g = ga THEN 0 ELSE v END)::BIGINT AS s_b,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 1 ELSE 0 END) AS q_a,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 0 ELSE 1 END) AS q_b
              FROM base, gm
            ),
            terms AS (
              SELECT n_a, n_b,
                s_a::DOUBLE / n_a::DOUBLE AS ma,
                s_b::DOUBLE / n_b::DOUBLE AS mb,
                (q_a::DOUBLE - (s_a::DOUBLE / n_a::DOUBLE) * s_a::DOUBLE)
                  / (n_a::DOUBLE - 1.0) AS va,
                (q_b::DOUBLE - (s_b::DOUBLE / n_b::DOUBLE) * s_b::DOUBLE)
                  / (n_b::DOUBLE - 1.0) AS vb
              FROM agg
            ),
            fin AS (
              SELECT n_a, n_b, ma, mb, va, vb,
                va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2,
                va / n_a::DOUBLE AS sea, vb / n_b::DOUBLE AS seb,
                sqrt(((n_a::DOUBLE - 1.0) * va + (n_b::DOUBLE - 1.0) * vb)
                     / (n_a::DOUBLE + n_b::DOUBLE - 2.0)) AS sp
              FROM terms
            )
            SELECT n_a, n_b,
              floor(ma / 100.0 * 1e6) / 1e6 AS mean_a_q6,
              floor(mb / 100.0 * 1e6) / 1e6 AS mean_b_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                floor((ma - mb) / sqrt(se2) * 1e6) / 1e6 END AS t_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                floor((se2 * se2)
                      / (sea * sea / (n_a::DOUBLE - 1.0)
                         + seb * seb / (n_b::DOUBLE - 1.0))
                      * 1e6) / 1e6 END AS df_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 AND sp > 0 THEN
                floor((ma - mb) / sp * 1e6) / 1e6 END AS d_q6
            FROM fin
        """)
def _q_welch(spark, sf_dir):
    """Welch's unequal-variance t test (functions/stats.py
    welch_t_test): do even- and odd-user event values differ in MEAN?
    The two-sample parametric mean gate:
    per-arm exact BIGINT/DECIMAL sums off one conditional aggregate,
    t / Welch-Satterthwaite df / Cohen's d as fixed-order float
    expressions over the six exact scalars."""

    ev = read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return welch_t_test(ev, "value", "arm", quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT CAST(floor(n_chars / 100) AS BIGINT) AS x,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS e
              FROM documents
              WHERE n_chars IS NOT NULL
            ),
            per AS (
              SELECT x, count(*)::BIGINT AS n_j, sum(e)::BIGINT AS r_j
              FROM base GROUP BY x
            ),
            agg AS (
              SELECT sum(n_j)::BIGINT AS n, count(*)::BIGINT AS k_doses,
                     sum(r_j)::BIGINT AS r,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(n_j AS DECIMAL(38,0))) AS sxn,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(r_j AS DECIMAL(38,0))) AS sxr,
                     sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
                         * CAST(n_j AS DECIMAL(38,0))) AS sxx
              FROM per
            ),
            fin AS (
              SELECT n, k_doses, r,
                n::DOUBLE * sxr::DOUBLE - r::DOUBLE * sxn::DOUBLE AS num,
                r::DOUBLE * (n::DOUBLE - r::DOUBLE)
                  * (n::DOUBLE * sxx::DOUBLE - sxn::DOUBLE * sxn::DOUBLE)
                  AS den
              FROM agg
            )
            SELECT n, k_doses,
              CASE WHEN r > 0 AND r < n AND k_doses > 1 THEN
                floor(n::DOUBLE * num * num / den * 1e6) / 1e6
              END AS chi2_q6,
              CASE WHEN r > 0 AND r < n AND k_doses > 1 THEN
                floor(sign(num) * sqrt(n::DOUBLE * num * num / den)
                      * 1e6) / 1e6
              END AS z_q6
            FROM fin
        """)
def _q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test (functions/stats.py
    cochran_armitage): does the English rate RISE with document length
    (100-char buckets as the ordered dose)? The ordered 2 x k screen
    q_chi2_indep throws the ordering away; five exact DECIMAL moment
    sums off a dose-bounded groupBy, chi2/z in one fixed-order
    expression."""

    d = read(spark, sf_dir, "documents").select(
        F.floor(F.col("n_chars") / 100).cast("long").alias("dose"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return cochran_armitage(d, "dose", "is_en")


@query(oracle="WITH km AS (" + _KM_SQL + """),
            seg AS (
              SELECT duration AS start, survival_q AS sq,
                     lead(duration) OVER (ORDER BY duration) AS nxt
              FROM km
            ),
            body AS (
              SELECT start, sq,
                     (least(coalesce(nxt, 5000), 5000)
                      - start)::DOUBLE AS len
              FROM seg WHERE start < 5000
            ),
            fst AS (SELECT min(duration) AS t1 FROM km),
            ini AS (
              SELECT CAST(-1 AS BIGINT) AS start, 1.0 AS sq,
                     least(t1, 5000)::DOUBLE AS len
              FROM fst WHERE least(t1, 5000) > 0
            ),
            segs AS (
              SELECT * FROM ini UNION ALL SELECT * FROM body
            ),
            stepped AS (
              SELECT sum(sq * len) OVER (ORDER BY start ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS area,
                     row_number() OVER (ORDER BY start) AS rn,
                     count(*) OVER () AS k
              FROM segs
            )
            SELECT 5000::BIGINT AS tau, t1 AS t_first,
              floor(area * 1e6) / 1e6 AS rmst_q6
            FROM stepped, fst WHERE rn = k
        """)
def _q_rmst(spark, sf_dir):
    """Restricted mean survival time at tau=5000 minutes
    (functions/stats.py rmst) over the q_kaplan_meier time-to-convert
    observations — the area under the KM head, the censoring-aware
    effect size when the median misleads. Step-rule integral in fixed
    time order over the quantized KM values."""

    obs = _surv_obs(spark, sf_dir)
    return rmst(obs, "dur_min", "event", tau=5000)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(user_id % 2 AS INT) AS gg
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
            ),
            gm AS (SELECT min(gg) AS ga FROM base),
            tagged AS (
              SELECT v, CASE WHEN gg = ga THEN 1 ELSE 0 END AS arm
              FROM base, gm
            ),
            cnt AS (
              SELECT arm, v, count(*)::BIGINT AS c
              FROM tagged GROUP BY arm, v
            ),
            cum AS (
              SELECT arm, v, c,
                sum(c) OVER (PARTITION BY arm ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                sum(c) OVER (PARTITION BY arm) AS n
              FROM cnt
            ),
            ext AS (
              SELECT arm, v, c, cm, n,
                     CAST(floor(n * 1 / 5) AS BIGINT) AS g
              FROM cum
            ),
            per AS (
              SELECT arm, max(n) AS n, max(g) AS g2,
                sum(greatest(0, least(n - g, cm) - greatest(g, cm - c))
                    * v)::BIGINT AS tsum,
                sum(greatest(0, least(n - g, cm)
                    - greatest(g, cm - c)))::BIGINT AS h,
                max(CASE WHEN cm - c < g + 1 AND cm >= g + 1
                         THEN v END) AS L,
                max(CASE WHEN cm - c < n - g AND cm >= n - g
                         THEN v END) AS U
              FROM ext GROUP BY arm
            ),
            wj AS (
              SELECT e.arm, e.v, e.c, p.L, p.U
              FROM ext e JOIN per p ON e.arm = p.arm
            ),
            wins AS (
              SELECT arm,
                sum(greatest(least(v, U), L) * c)::BIGINT AS ws,
                sum(CAST(greatest(least(v, U), L) AS DECIMAL(38,0))
                    * CAST(greatest(least(v, U), L) AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS wq
              FROM wj GROUP BY arm
            ),
            calc AS (
              SELECT p.arm, p.n, p.h,
                p.tsum::DOUBLE / p.h::DOUBLE AS tmean,
                (w.wq::DOUBLE
                 - w.ws::DOUBLE * w.ws::DOUBLE / p.n::DOUBLE)
                  / (p.n::DOUBLE - 1.0) AS swin
              FROM per p JOIN wins w ON p.arm = w.arm
            ),
            dd AS (
              SELECT arm, n, h, tmean,
                (n::DOUBLE - 1.0) * swin
                  / (h::DOUBLE * (h::DOUBLE - 1.0)) AS dterm
              FROM calc
            ),
            wide AS (
              SELECT a.n AS n_a, a.h AS h_a, a.tmean AS ma,
                     a.dterm AS da,
                     b.n AS n_b, b.h AS h_b, b.tmean AS mb,
                     b.dterm AS db
              FROM dd a, dd b WHERE a.arm = 1 AND b.arm = 0
            )
            SELECT n_a, n_b, h_a, h_b,
              floor(ma / 100.0 * 1e6) / 1e6 AS tmean_a_q6,
              floor(mb / 100.0 * 1e6) / 1e6 AS tmean_b_q6,
              CASE WHEN h_a > 1 AND h_b > 1 AND (da + db) > 0 THEN
                floor((ma - mb) / sqrt(da + db) * 1e6) / 1e6
              END AS t_q6,
              CASE WHEN h_a > 1 AND h_b > 1 AND (da + db) > 0 THEN
                floor((da + db) * (da + db)
                      / (da * da / (h_a::DOUBLE - 1.0)
                         + db * db / (h_b::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS df_q6
            FROM wide
        """)
def _q_yuen(spark, sf_dir):
    """Yuen's 20%-trimmed-means t test between user-parity arms
    (functions/stats.py yuen_trimmed_t) — the robust twin of q_welch:
    rank-interval-overlap trimmed sums and winsorized moments off one
    (arm, value) count shuffle, all integer until the final t/df
    assembly."""

    ev = read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return yuen_trimmed_t(ev, "value", "arm", quantize=2)


@query(oracle="""
            WITH p AS (
              SELECT event_type AS g,
                     CAST(concat('0x', substr(
                       md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS pq
              FROM events
            ),
            k AS (
              SELECT g, pq,
                     coalesce(count(*) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + 1 AS r_min,
                     count(*) OVER (PARTITION BY g) AS m
              FROM p
            ),
            c AS (
              SELECT g, pq, r_min, m,
                     CASE WHEN pq * (m - r_min + 1) * 100
                            <= 5 * 1000000
                          THEN 1 ELSE 0 END AS cond
              FROM k
            ),
            f AS (
              SELECT g, pq, r_min, m,
                     min(cond) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS runmin
              FROM c
            )
            SELECT g AS event_type, pq AS p_q,
                   r_min::BIGINT AS r_min, m::BIGINT AS m,
                   (runmin = 1) AS reject
            FROM f
        """)
def _q_holm(spark, sf_dir):
    """Holm step-down FWER control over the same md5-derived per-event
    p battery as q_bh_fdr (functions/stats.py holm_bonferroni) — the
    family-wise gate next to BH's FDR gate; min-rank tie convention
    keeps every frame RANGE-based, no row_number tie gamble."""

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("event_id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(1_000_000)
            ).cast("double")
            / F.lit(1e6)
        ).alias("p"),
    )
    return holm_bonferroni(ev, "p", group_cols=("event_type",))


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS v,
                     source AS g
              FROM documents
              WHERE n_chars IS NOT NULL AND source IS NOT NULL
            ),
            per AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g
              FROM base GROUP BY g
            ),
            tot AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s
              FROM per
            )
            SELECT g AS "group", n_g,
              floor(s_g::DOUBLE / n_g::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_g_q6,
              CASE WHEN n_g < n THEN
                floor(((s - s_g)::DOUBLE / (n - n_g)::DOUBLE
                       - s::DOUBLE / n::DOUBLE) / 1.0 * 1e6) / 1e6
              END AS delta_q6
            FROM per, tot
        """)
def _q_group_influence(spark, sf_dir):
    """Per-source influence on the global mean doc length
    (functions/stats.py group_influence): the leave-one-source-out
    delta table behind q_jackknife's single SE — which source drags
    the headline number, and in which direction. One combinable
    aggregate; each delta a fixed float expression over four
    integers."""

    d = read(spark, sf_dir, "documents").select("source", "n_chars")
    return group_influence(d, "n_chars", "source", quantize=0)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS v,
                     source AS g
              FROM documents
              WHERE n_chars IS NOT NULL AND source IS NOT NULL
            ),
            per AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g
              FROM base GROUP BY g
            ),
            tot AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s
              FROM per
            ),
            th AS (
              SELECT g, n_g, s_g, n, s,
                     (s - s_g)::DOUBLE / (n - n_g)::DOUBLE AS theta
              FROM per, tot
            ),
            stepped AS (
              SELECT n, s,
                     sum(theta) OVER w AS st,
                     sum(theta * theta) OVER w AS st2,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS gg,
                     max(CASE WHEN n_g = n THEN 1 ELSE 0 END) OVER ()
                       AS whole
              FROM th
              WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            last AS (SELECT * FROM stepped WHERE rn = gg)
            SELECT n, gg::BIGINT AS g,
              floor(s::DOUBLE / n::DOUBLE / 1.0 * 1e6) / 1e6 AS mean_q6,
              CASE WHEN gg > 1 AND whole = 0
                   AND ((gg::DOUBLE - 1.0) / gg::DOUBLE
                        * (st2 - st * st / gg::DOUBLE)) >= 0 THEN
                floor(sqrt((gg::DOUBLE - 1.0) / gg::DOUBLE
                           * (st2 - st * st / gg::DOUBLE))
                      / 1.0 * 1e6) / 1e6
              END AS se_q6
            FROM last
        """)
def _q_jackknife(spark, sf_dir):
    """Delete-a-source jackknife SE of the global mean document length
    (functions/stats.py jackknife_group_se): the clustered-sampling
    error bar — how much any single source moves the headline mean.
    Exact per-group integer sums; the G leave-out replicates accumulate
    in fixed group order."""

    d = read(spark, sf_dir, "documents").select("source", "n_chars")
    return jackknife_group_se(d, "n_chars", "source", quantize=0)


@query(oracle="""
            WITH pu AS (
              SELECT user_id,
                sum(CASE WHEN event_id % 2 = 0
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS x,
                sum(CASE WHEN event_id % 2 = 1
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS y,
                CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id
            ),
            gm AS (SELECT min(g) AS ga FROM pu),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS sxx,
                sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS syy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS sxy,
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN x ELSE 0 END)::BIGINT AS sx_a,
                sum(CASE WHEN g = ga THEN 0 ELSE x END)::BIGINT AS sx_b,
                sum(CASE WHEN g = ga THEN y ELSE 0 END)::BIGINT AS sy_a,
                sum(CASE WHEN g = ga THEN 0 ELSE y END)::BIGINT AS sy_b
              FROM pu, gm
            ),
            fin AS (
              SELECT n, n_a, n_b, sx_a, sx_b, sy_a, sy_b,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cov_n,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
                  AS varx_n,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS vary_n,
                sx::DOUBLE / n::DOUBLE AS mx
              FROM agg
            )
            SELECT n_a, n_b,
              floor(sy_a::DOUBLE / n_a::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_a_q6,
              floor(sy_b::DOUBLE / n_b::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_b_q6,
              CASE WHEN varx_n > 0 THEN
                floor((sy_a::DOUBLE / n_a::DOUBLE
                       - (cov_n / varx_n)
                         * (sx_a::DOUBLE / n_a::DOUBLE - mx))
                      / 1.0 * 1e6) / 1e6 END AS adj_a_q6,
              CASE WHEN varx_n > 0 THEN
                floor((sy_b::DOUBLE / n_b::DOUBLE
                       - (cov_n / varx_n)
                         * (sx_b::DOUBLE / n_b::DOUBLE - mx))
                      / 1.0 * 1e6) / 1e6 END AS adj_b_q6,
              CASE WHEN varx_n > 0 THEN
                floor(cov_n / varx_n * 1e6) / 1e6 END AS theta_q6,
              CASE WHEN varx_n > 0 AND vary_n > 0 THEN
                floor(cov_n * cov_n / (varx_n * vary_n) * 1e6) / 1e6
              END AS rho2_q6
            FROM fin
        """)
def _q_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B read-out (functions/stats.py
    cuped_adjust): per-user pre-period metric (cent-quantized value
    sum over even event_ids) controls the post-period metric (odd
    event_ids), arms by user parity. Pre/post correlate through user
    activity, so theta/rho2 are non-trivial. Values are quantized
    BEFORE the per-user sum — integer per-user moments, no float-order
    drift."""

    ev = read(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pu = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_id") % 2 == 0, cents).otherwise(0)
        ).alias("pre"),
        F.sum(
            F.when(F.col("event_id") % 2 == 1, cents).otherwise(0)
        ).alias("post"),
    ).select(
        "pre", "post", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return cuped_adjust(pu, "pre", "post", "arm", quantize=0)


@query(oracle="""
            WITH w AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (SELECT word, count(*)::BIGINT AS f FROM w GROUP BY word),
            base AS (
              SELECT CAST(round(CAST(f AS DOUBLE) * 1, 0) AS BIGINT) AS v
              FROM wc
              WHERE CAST(round(CAST(f AS DOUBLE) * 1, 0) AS BIGINT) > 0
            ),
            cnt AS (SELECT v, count(*)::BIGINT AS c FROM base GROUP BY v),
            reach AS (
              SELECT v, c, sum(c) OVER (ORDER BY v DESC ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS ge
              FROM cnt
            ),
            topk AS (
              SELECT v, least(c, 100 - (ge - c)) AS m FROM reach
              WHERE least(c, 100 - (ge - c)) > 0
            ),
            stepped AS (
              SELECT sum(m::DOUBLE * ln(v::DOUBLE)) OVER (ORDER BY v DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s,
                     sum(m) OVER () AS k_eff,
                     row_number() OVER (ORDER BY v DESC) AS rn,
                     count(*) OVER () AS nr
              FROM topk
            ),
            ls AS (SELECT s, k_eff FROM stepped WHERE rn = nr),
            xr AS (SELECT max(v) AS xrv FROM reach WHERE ge >= 101),
            tt AS (SELECT count(*)::BIGINT AS n FROM base)
            SELECT n, k_eff::BIGINT AS k, xrv::DOUBLE / 1.0 AS xref,
              CASE WHEN (s / k_eff::DOUBLE - ln(xrv::DOUBLE)) > 0 THEN
                floor(1.0 / (s / k_eff::DOUBLE - ln(xrv::DOUBLE)) * 1e6)
                  / 1e6
              END AS alpha_q6
            FROM ls, xr, tt
        """)
def _q_hill_tail(spark, sf_dir):
    """Hill tail-index of the word-frequency distribution
    (functions/stats.py hill_tail_index, k=100): HOW Zipf-heavy is
    the vocabulary tail — the sharp companion to q_zipf_fit's
    whole-line regression. Top-k membership via integer rank-reach
    over the distinct-count table; fixed-order ln sum over <= k
    rows."""

    d = read(spark, sf_dir, "documents")
    wds = tokens(F.col("text"))
    wc = (
        d.select(F.explode(wds).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return hill_tail_index(wc, "f", k=100, quantize=0)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            cnt AS (
              SELECT v,
                     sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS ca,
                     sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS cb
              FROM base, gm GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
              FROM cnt
            ),
            cum AS (
              SELECT v - lag(v) OVER (ORDER BY v) AS gap,
                     sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - ca AS ka,
                     sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - cb AS kb
              FROM cnt
            ),
            agg AS (
              SELECT
                sum(CAST(gap AS DECIMAL(38,0))
                    * (CAST(ka * (n_b - kb) AS DECIMAL(38,0))
                       + CAST(kb * (n_a - ka) AS DECIMAL(38,0)))) AS sxy,
                sum(CAST(gap AS DECIMAL(38,0))
                    * CAST(ka * (n_a - ka) AS DECIMAL(38,0))
                    * CAST(2 AS DECIMAL(38,0))) AS sxx,
                sum(CAST(gap AS DECIMAL(38,0))
                    * CAST(kb * (n_b - kb) AS DECIMAL(38,0))
                    * CAST(2 AS DECIMAL(38,0))) AS syy,
                max(n_a) AS n_a, max(n_b) AS n_b
              FROM cum, tot WHERE gap IS NOT NULL
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                floor((2.0 * sxy::DOUBLE
                         / (n_a::DOUBLE * n_b::DOUBLE)
                       - sxx::DOUBLE / (n_a::DOUBLE * n_a::DOUBLE)
                       - syy::DOUBLE / (n_b::DOUBLE * n_b::DOUBLE))
                      / 100.0 * 1e6) / 1e6
              END AS d2_q6
            FROM agg
        """)
def _q_energy_distance(spark, sf_dir):
    """Two-sample energy distance (functions/stats.py
    energy_distance_2s): full-distribution gap between users divisible
    by 3 and the rest, as the metric E-statistic 2E|X-Y| - E|X-X'| -
    E|Y-Y'|. The pairwise L1 expectations collapse to ONE linear sweep
    over the sorted distinct-value table (gap-crossing identity), all
    integer until the final assembly."""

    ev = read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 3 == 0).cast("int").alias("arm")
    )
    return energy_distance_2s(ev, "value", "arm", quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            cnt AS (
              SELECT v,
                     sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS ca,
                     sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS cb
              FROM base, gm GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
              FROM cnt
            ),
            cum AS (
              SELECT ca + cb AS c,
                     sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS ka,
                     sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS kb
              FROM cnt
            ),
            agg AS (
              SELECT sum(CAST(c AS DECIMAL(38,0))
                         * CAST(n_b * ka - n_a * kb AS DECIMAL(38,0))
                         * CAST(n_b * ka - n_a * kb AS DECIMAL(38,0)))
                       AS u,
                     max(n_a) AS n_a, max(n_b) AS n_b
              FROM cum, tot
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                floor(u::DOUBLE
                      / (n_a::DOUBLE * n_b::DOUBLE
                         * (n_a::DOUBLE + n_b::DOUBLE)
                         * (n_a::DOUBLE + n_b::DOUBLE))
                      * 1e6) / 1e6
              END AS t_q6
            FROM agg
        """)
def _q_cvm(spark, sf_dir):
    """Cramér-von Mises two-sample criterion (functions/stats.py
    cramer_von_mises_2s): does the event-value DISTRIBUTION differ
    between users divisible by 3 and the rest? The integrated-square
    companion to q_ks_drift's max-gap; exact DECIMAL numerator
    sum_v c_v * (m*cumA - n*cumB)^2 over the distinct-value table,
    one float division at emit."""

    ev = read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 3 == 0).cast("int").alias("arm")
    )
    return cramer_von_mises_2s(ev, "value", "arm", quantize=2)


@query(oracle="""
            WITH q AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 100) AS BIGINT) AS x
              FROM events
            ),
            leads AS (
              SELECT user_id, x,
                     lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
                     lead(x, 3) OVER w AS y3, lead(x, 4) OVER w AS y4
              FROM q
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            pairs AS (
              SELECT user_id, u.lag AS lag, u.x AS x, u.y AS y
              FROM leads, unnest([
                {'lag': 1, 'x': x, 'y': y1},
                {'lag': 2, 'x': x, 'y': y2},
                {'lag': 3, 'x': x, 'y': y3},
                {'lag': 4, 'x': x, 'y': y4}
              ]) AS t(u)
              WHERE u.y IS NOT NULL
            ),
            s AS (
              SELECT user_id, lag,
                     count(*)::BIGINT AS n_pairs,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * x)::BIGINT AS sxx,
                     sum(y * y)::BIGINT AS syy,
                     sum(x * y)::BIGINT AS sxy
              FROM pairs GROUP BY user_id, lag
            )
            SELECT user_id, lag, n_pairs,
                   CASE WHEN (n_pairs * sxx - sx * sx) > 0
                         AND (n_pairs * syy - sy * sy) > 0 THEN
                     floor((n_pairs * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS r
            FROM s
        """)
def _q_correlogram(spark, sf_dir):
    """Per-user ACF for lags 1..4 of the event value signal
    (functions/stats.py correlogram): one window computing every lag's
    lead as sibling columns, map-side unpivot, one (user, lag)
    aggregate — a single shuffle regardless of max_lag."""

    ev = read(spark, sf_dir, "events")
    return correlogram(
        ev, ("user_id",), ("ts", "event_id"), "value", max_lag=4
    )


@query(oracle="""
            WITH cells AS (
              SELECT c_mktsegment AS a, c_nationkey AS b,
                     count(*)::BIGINT AS o
              FROM customer GROUP BY a, b
            ),
            rt AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
            ct AS (SELECT b, sum(o)::BIGINT AS cb FROM cells GROUP BY b),
            gt AS (SELECT sum(o)::BIGINT AS N FROM cells),
            j AS (
              SELECT cells.a, cells.b, cells.o, rt.ra, ct.cb, gt.N
              FROM cells JOIN rt USING (a) JOIN ct USING (b), gt
            ),
            stepped AS (
              SELECT N,
                     sum(
                       (o::DOUBLE - CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                       * (o::DOUBLE - CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                       / (CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                     ) OVER (
                       ORDER BY a, b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS chi2_obs,
                     sum(CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE) OVER (
                       ORDER BY a, b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS e_obs,
                     row_number() OVER (ORDER BY a, b) AS rn,
                     count(*) OVER () AS cells_n
              FROM j
            ),
            last AS (
              SELECT N, chi2_obs + (N::DOUBLE - e_obs) AS chi2
              FROM stepped WHERE rn = cells_n
            ),
            dims AS (
              SELECT count(DISTINCT a)::BIGINT AS r,
                     count(DISTINCT b)::BIGINT AS c
              FROM cells
            )
            SELECT N AS n, r, c,
                   floor(chi2 * 1e6) / 1e6 AS chi2_q6,
                   CASE WHEN least(r, c) > 1 THEN
                     floor(sqrt(chi2 / (N::DOUBLE
                       * (least(r, c)::DOUBLE - 1.0))) * 1e6) / 1e6
                   END AS v_q6
            FROM last, dims
        """)
def _q_cramers_v(spark, sf_dir):
    """Cramér's V between market segment and nation on customers
    (functions/stats.py cramers_v) — the effect-size normalization of
    q_chi2_indep: same one-shuffle contingency plan, but the cross-cell
    chi2 total is accumulated in fixed (a, b) order so the single float
    sum stays bit-reproducible."""

    c = read(spark, sf_dir, "customer")
    return cramers_v(c, "c_mktsegment", "c_nationkey")


@query(oracle="""
            WITH base AS (
              SELECT c_nationkey AS g, c_custkey AS id,
                     CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x,
                     CAST(round(length(c_name) * 100.0, 0) AS BIGINT)
                       AS y
              FROM customer
              WHERE c_acctbal IS NOT NULL AND c_name IS NOT NULL
            ),
            s AS (
              SELECT a.g,
                     sum(
                       (CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                       * (CASE WHEN b.y > a.y THEN 1
                               WHEN b.y < a.y THEN -1 ELSE 0 END)
                     )::BIGINT AS s_stat
              FROM base a JOIN base b ON a.g = b.g AND a.id < b.id
              GROUP BY a.g
            ),
            cnt AS (SELECT g, count(*)::BIGINT AS n FROM base GROUP BY g),
            tx AS (
              SELECT g, sum(t * (t - 1))::BIGINT AS m1 FROM (
                SELECT g, x, count(*)::BIGINT AS t
                FROM base GROUP BY g, x
              ) GROUP BY g
            ),
            ty AS (
              SELECT g, sum(t * (t - 1))::BIGINT AS m2 FROM (
                SELECT g, y, count(*)::BIGINT AS t
                FROM base GROUP BY g, y
              ) GROUP BY g
            )
            SELECT cnt.g AS c_nationkey, n, s_stat,
                   (n * (n - 1))::BIGINT AS m0, m1, m2,
                   CASE WHEN n * (n - 1) > m1 AND n * (n - 1) > m2 THEN
                     floor(2.0 * s_stat::DOUBLE
                           / sqrt((n * (n - 1) - m1)::DOUBLE
                                  * (n * (n - 1) - m2)::DOUBLE)
                           * 1e6) / 1e6
                   END AS tau_q6
            FROM cnt JOIN s USING (g) JOIN tx USING (g) JOIN ty USING (g)
        """)
def _q_kendall_tau(spark, sf_dir):
    """Kendall tau-b per nation between account balance and name length
    on customers (functions/stats.py kendall_tau_b) — concordance
    between two metrics where q_mann_kendall is value-vs-clock. Pairs
    enumerated once via strict custkey ordering (bounded-group
    contract); S and the doubled tie terms are exact BIGINTs."""

    c = read(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.length("c_name").cast("double").alias("name_len"),
    )
    return kendall_tau_b(
        c, ("c_nationkey",), "c_acctbal", "name_len", "c_custkey",
        quantize=2,
    )


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS y,
                     (user_id % 2 = 0) AS t,
                     (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
                AND ts IS NOT NULL
            ),
            agg AS (
              SELECT
                sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::BIGINT AS n_tp,
                sum(CASE WHEN t AND p THEN y ELSE 0 END)::BIGINT AS s_tp,
                sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::BIGINT
                  AS n_tq,
                sum(CASE WHEN t AND NOT p THEN y ELSE 0 END)::BIGINT
                  AS s_tq,
                sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::BIGINT
                  AS n_cp,
                sum(CASE WHEN NOT t AND p THEN y ELSE 0 END)::BIGINT
                  AS s_cp,
                sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::BIGINT
                  AS n_cq,
                sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END)::BIGINT
                  AS s_cq
              FROM base
            )
            SELECT n_tp, n_tq, n_cp, n_cq, s_tp, s_tq, s_cp, s_cq,
                   CASE WHEN n_tp > 0 AND n_tq > 0 AND n_cp > 0
                          AND n_cq > 0 THEN
                     floor(((s_tp::DOUBLE / n_tp::DOUBLE
                             - s_tq::DOUBLE / n_tq::DOUBLE)
                            - (s_cp::DOUBLE / n_cp::DOUBLE
                               - s_cq::DOUBLE / n_cq::DOUBLE))
                           / 100.0 * 1e6) / 1e6
                   END AS did_q6
            FROM agg
        """)
def _q_did(spark, sf_dir):
    """Difference-in-differences on event value (functions/stats.py
    did_estimate): even-id users as the treated cohort, the month
    midpoint as the intervention; ONE map-combinable aggregate emits
    the four (treated x post) cells' exact sums, the estimate is a
    single fixed-op-order float."""

    ev = read(spark, sf_dir, "events").select(
        "value",
        (F.col("user_id") % 2 == 0).alias("treated"),
        (
            F.col("ts").cast("timestamp")
            >= F.lit("2024-01-16 00:00:00").cast("timestamp")
        ).alias("post"),
    )
    return did_estimate(ev, "value", "treated", "post", quantize=2)


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                     END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb_below,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN 1 FOLLOWING
                                AND UNBOUNDED FOLLOWING), 0) AS cb_above
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a,
                     sum(cb)::BIGINT AS n_b,
                     sum(ca * (cb_below - cb_above))::BIGINT AS delta_num
              FROM cum
            )
            SELECT n_a, n_b, delta_num,
                   CASE WHEN n_a * n_b > 0 THEN
                     floor(delta_num::DOUBLE / (n_a * n_b)::DOUBLE * 1e6)
                       / 1e6
                   END AS delta_q6,
                   CASE WHEN n_a * n_b > 0 THEN
                     CASE WHEN abs(delta_num) * 1000 < 147 * n_a * n_b
                            THEN 'negligible'
                          WHEN abs(delta_num) * 1000 < 330 * n_a * n_b
                            THEN 'small'
                          WHEN abs(delta_num) * 1000 < 474 * n_a * n_b
                            THEN 'medium'
                          ELSE 'large' END
                   END AS magnitude
            FROM agg
        """)
def _q_cliffs_delta(spark, sf_dir):
    """Cliff's delta effect size between the BUILDING and MACHINERY
    segments on account balance (functions/stats.py cliffs_delta) —
    the magnitude reading q_mann_whitney's p-value needs; BIGINT
    delta_num off the distinct-value count table, Romano band decided
    by integer cross-multiplication."""

    c = read(spark, sf_dir, "customer")
    return cliffs_delta(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     CASE WHEN n_chars % 7 < 4 THEN 1 ELSE 0 END AS s
              FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     CASE WHEN n_chars % 5 < 3 THEN 1 ELSE 0 END
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END
              FROM documents
            ),
            rt AS (
              SELECT count(*)::BIGINT AS k,
                     sum(t * t)::BIGINT AS sum_t2,
                     sum(t)::BIGINT AS grand
              FROM (SELECT rater, sum(s)::BIGINT AS t
                    FROM long GROUP BY rater)
            ),
            it AS (
              SELECT count(*)::BIGINT AS n_items,
                     sum(r)::BIGINT AS sum_r,
                     sum(r * r)::BIGINT AS sum_r2
              FROM (SELECT doc_id, sum(s)::BIGINT AS r
                    FROM long GROUP BY doc_id)
            )
            SELECT n_items, k, grand,
                   CASE WHEN k * sum_r - sum_r2 > 0 THEN
                     floor((k - 1)::DOUBLE
                           * (k * sum_t2 - grand * grand)::DOUBLE
                           / (k * sum_r - sum_r2)::DOUBLE * 1e6) / 1e6
                   END AS q_q6
            FROM rt, it
        """)
def _q_cochran_q(spark, sf_dir):
    """Cochran's Q across three deterministic document heuristics
    (functions/stats.py cochran_q) — McNemar generalized to k raters:
    the n_chars%7, n_chars%5 and length-threshold rules judge every
    document; two groupBys to four BIGINT scalars, one division."""

    d = read(spark, sf_dir, "documents")
    long = (
        d.select(
            "doc_id",
            F.lit("r1").alias("rater"),
            (F.col("n_chars") % 7 < 4).cast("long").alias("success"),
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r2").alias("rater"),
                (F.col("n_chars") % 5 < 3).cast("long").alias("success"),
            )
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r3").alias("rater"),
                (F.col("n_chars") >= 500).cast("long").alias("success"),
            )
        )
    )
    return cochran_q(long, "doc_id", "rater", "success")


@query(oracle="""
            WITH base AS (
              SELECT c_nationkey AS g,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS v
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            walsh AS (
              SELECT g, w2, sum(pc)::BIGINT AS pc FROM (
                SELECT a.g, a.v + b.v AS w2,
                       CASE WHEN a.v = b.v
                            THEN (a.c * (a.c + 1) / 2)::BIGINT
                            ELSE a.c * b.c END AS pc
                FROM cnt a JOIN cnt b
                  ON a.g = b.g AND a.v <= b.v
              ) GROUP BY g, w2
            ),
            ranked AS (
              SELECT g, w2, pc,
                     coalesce(sum(pc) OVER (
                       PARTITION BY g ORDER BY w2
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(pc) OVER (PARTITION BY g) AS nw
              FROM walsh
            ),
            med AS (
              SELECT g, max(nw)::BIGINT AS n_walsh,
                     sum(w2 * (
                       (CASE WHEN cb < floor((nw + 1) / 2)
                              AND cb + pc >= floor((nw + 1) / 2)
                        THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < floor(nw / 2) + 1
                                AND cb + pc >= floor(nw / 2) + 1
                          THEN 1 ELSE 0 END)
                     ))::BIGINT AS med4
              FROM ranked GROUP BY g
            ),
            n_tab AS (SELECT g, count(*)::BIGINT AS n FROM base GROUP BY g)
            SELECT n_tab.g AS c_nationkey, n, n_walsh, med4,
                   floor(med4::DOUBLE / 400.0 * 1e6) / 1e6 AS hl_q6
            FROM n_tab JOIN med USING (g)
        """)
def _q_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann pseudo-median of account balance per nation
    (functions/stats.py hodges_lehmann): Walsh-average multiset built
    from the per-(nation, value) COUNT table (V x V on distinct
    quantized values, never row x row), median via the integer
    rank-reach test; med4 stays BIGINT."""

    c = read(spark, sf_dir, "customer")
    return hodges_lehmann(c, "c_acctbal", ("c_nationkey",), quantize=2)


@query(oracle="""
            WITH cells AS (
              SELECT o_custkey % 50 AS subj, o_orderpriority AS trt,
                     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS v
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT subj, trt,
                     (2 * rank() OVER (PARTITION BY subj ORDER BY v)
                      + count(*) OVER (PARTITION BY subj, v)
                      - 1)::BIGINT AS r2
              FROM cells
            ),
            ords AS (
              SELECT trt,
                     dense_rank() OVER (ORDER BY trt)::BIGINT AS ord
              FROM (SELECT DISTINCT trt FROM cells)
            ),
            agg AS (
              SELECT sum(ord * r2)::BIGINT AS l2,
                     count(DISTINCT subj)::BIGINT AS n_subjects,
                     count(DISTINCT ranked.trt)::BIGINT AS k
              FROM ranked JOIN ords ON ranked.trt = ords.trt
            )
            SELECT n_subjects, k, l2,
                   CASE WHEN n_subjects * k * k * (k + 1)
                             * (k * k - 1) > 0 THEN
                     floor(3.0 * (2 * l2
                                  - n_subjects * k * (k + 1)
                                    * (k + 1))::DOUBLE
                           / sqrt((n_subjects * k * k * (k + 1)
                                   * (k * k - 1))::DOUBLE)
                           * 1e6) / 1e6
                   END AS z_q6
            FROM agg
        """)
def _q_page_trend(spark, sf_dir):
    """Page's L ordered-trend test over (customer % 50) x order-priority
    spend blocks (functions/stats.py page_trend_test): within-subject
    doubled ranks weighted by the treatment ordinal; L2 BIGINT, z one
    float expression off integral moments e4/v144."""

    o = read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return page_trend_test(blocks, "subj", "trt", "spend", quantize=0)


@query(oracle="""
            WITH base AS (
              SELECT user_id AS g, event_id AS o,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE user_id < 40 AND value IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            ranked AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER (PARTITION BY g) AS n_g
              FROM vg
            ),
            med AS (
              SELECT g,
                     sum(v * (
                       (CASE WHEN cb < floor((n_g + 1) / 2)
                              AND cb + c >= floor((n_g + 1) / 2)
                        THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < floor(n_g / 2) + 1
                                AND cb + c >= floor(n_g / 2) + 1
                          THEN 1 ELSE 0 END)
                     ))::BIGINT AS med2
              FROM ranked GROUP BY g
            ),
            sided AS (
              SELECT base.g, o,
                     CASE WHEN 2 * v > med2 THEN 1
                          WHEN 2 * v < med2 THEN 0 END AS side
              FROM base JOIN med ON base.g = med.g
            ),
            seq AS (
              SELECT g, side,
                     lag(side) OVER (PARTITION BY g ORDER BY o) AS prev
              FROM sided WHERE side IS NOT NULL
            ),
            agg AS (
              SELECT g, sum(side)::BIGINT AS n1,
                     sum(1 - side)::BIGINT AS n2,
                     (1 + sum(CASE WHEN prev IS NOT NULL
                                    AND side <> prev
                              THEN 1 ELSE 0 END))::BIGINT AS runs
              FROM seq GROUP BY g
            )
            SELECT g AS user_id, n1, n2, runs,
                   CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2
                         AND 2 * n1 * n2 > n1 + n2 THEN
                     floor((runs::DOUBLE
                            - (1.0 + (2 * n1 * n2)::DOUBLE
                                     / (n1 + n2)::DOUBLE))
                           / sqrt((2 * n1 * n2)::DOUBLE
                                  * (2 * n1 * n2 - n1 - n2)::DOUBLE
                                  / ((n1 + n2) * (n1 + n2)
                                     * (n1 + n2 - 1))::DOUBLE)
                           * 1e6) / 1e6
                   END AS z_q6
            FROM agg
        """)
def _q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test of event values per user (ordered by
    the unique event_id; functions/stats.py runs_test): sides come
    from the DOUBLED exact median (2v vs med2 — no float compare),
    runs from one lag window; null moments integral. The streakiness
    screen on agent telemetry."""

    ev = read(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return runs_test(ev, "value", "event_id", ("user_id",), quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT user_id AS g, event_id AS o,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE user_id < 40 AND value IS NOT NULL
            ),
            seq AS (
              SELECT g, v,
                     v - lag(v) OVER (PARTITION BY g ORDER BY o) AS d
              FROM base
            ),
            agg AS (
              SELECT g, count(*)::BIGINT AS n,
                     sum(v)::BIGINT AS s,
                     sum(v * v)::BIGINT AS sq,
                     sum(d * d)::BIGINT AS num
              FROM seq GROUP BY g
            )
            SELECT g AS user_id, n, num,
                   (n * n * sq - n * s * s)::BIGINT AS den_n2,
                   CASE WHEN n * n * sq - n * s * s > 0 THEN
                     floor((n * n * num)::DOUBLE
                           / (n * n * sq - n * s * s)::DOUBLE * 1e6)
                       / 1e6
                   END AS dw_q6
            FROM agg
        """)
def _q_durbin_watson(spark, sf_dir):
    """Durbin-Watson lag-1 autocorrelation screen of event values per
    user (functions/stats.py durbin_watson): the mean cancels in the
    differences so num is a plain BIGINT; denominator exact via the
    n^2-scaling sum(n*v - S)^2; one float division."""

    ev = read(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return durbin_watson(ev, "value", "event_id", ("user_id",), quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL
            ),
            vc AS (SELECT v, count(*)::BIGINT AS c FROM base GROUP BY v),
            ranked AS (
              SELECT v, c,
                     coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER () AS n
              FROM vc
            ),
            med AS (
              SELECT sum(v * (
                (CASE WHEN cb < floor((n + 1) / 2)
                       AND cb + c >= floor((n + 1) / 2)
                 THEN 1 ELSE 0 END)
                + (CASE WHEN cb < floor(n / 2) + 1
                         AND cb + c >= floor(n / 2) + 1
                   THEN 1 ELSE 0 END)))::BIGINT AS med2
              FROM ranked
            ),
            sided AS (
              SELECT g, CASE WHEN 2 * v > med2 THEN 1
                             WHEN 2 * v < med2 THEN 0 END AS side
              FROM base, med
            ),
            per_g AS (
              SELECT g, sum(side)::BIGINT AS a,
                     sum(1 - side)::BIGINT AS b
              FROM sided WHERE side IS NOT NULL GROUP BY g
            ),
            tot AS (
              SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb,
                     count(*)::BIGINT AS k,
                     sum(a + b)::BIGINT AS nn
              FROM per_g
            ),
            stepped AS (
              SELECT k, ta, tb, nn,
                     sum(
                       ((a::DOUBLE - (a + b)::DOUBLE * ta::DOUBLE
                                     / nn::DOUBLE)
                        * (a::DOUBLE - (a + b)::DOUBLE * ta::DOUBLE
                                      / nn::DOUBLE)
                        / ((a + b)::DOUBLE * ta::DOUBLE / nn::DOUBLE))
                       + ((b::DOUBLE - (a + b)::DOUBLE * tb::DOUBLE
                                      / nn::DOUBLE)
                          * (b::DOUBLE - (a + b)::DOUBLE * tb::DOUBLE
                                        / nn::DOUBLE)
                          / ((a + b)::DOUBLE * tb::DOUBLE / nn::DOUBLE))
                     ) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS acc,
                     row_number() OVER (ORDER BY g) AS rn
              FROM per_g, tot
            )
            SELECT nn AS n, k, ta AS above_total,
                   CASE WHEN ta > 0 AND tb > 0 AND k > 1 THEN
                     floor(acc * 1e6) / 1e6
                   END AS chi2_q6
            FROM stepped WHERE rn = k
        """)
def _q_mood_median(spark, sf_dir):
    """Mood's median test of totalprice across the five order
    priorities (functions/stats.py mood_median_test) — the
    outlier-immune k-group median check: grand median via the DOUBLED
    integer rank-reach selection, per-group above/below BIGINTs,
    chi-square accumulated in fixed group order."""

    o = read(spark, sf_dir, "orders")
    return mood_median_test(o, "o_totalprice", "o_orderpriority", quantize=2)


@query(oracle="""
            WITH cells AS (
              SELECT user_id AS s, event_type AS i,
                     sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT
                       AS x
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id, event_type
            ),
            per_item AS (
              SELECT i, sum(x)::BIGINT AS ci,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(x AS DECIMAL(38,0))) AS ci2
              FROM cells GROUP BY i
            ),
            per_subj AS (
              SELECT s, sum(x)::BIGINT AS ts FROM cells GROUP BY s
            ),
            nn AS (
              SELECT count(*)::BIGINT AS n_subjects,
                     sum(CAST(ts AS DECIMAL(38,0))
                         * CAST(ts AS DECIMAL(38,0))) AS st2
              FROM per_subj
            ),
            kk AS (
              SELECT count(*)::BIGINT AS k_items,
                     sum(CAST(ci AS DECIMAL(38,0))
                         * CAST(ci AS DECIMAL(38,0))) AS sc2,
                     sum(ci2) AS sx2,
                     sum(ci)::BIGINT AS g
              FROM per_item
            ),
            f AS (
              SELECT n_subjects, k_items,
                n_subjects::DOUBLE AS n, k_items::DOUBLE AS k,
                g::DOUBLE AS g, sx2::DOUBLE AS sx2,
                st2::DOUBLE AS st2, sc2::DOUBLE AS sc2
              FROM nn, kk
            ),
            m AS (
              SELECT n_subjects, k_items, n, k,
                sx2 - g * g / (n * k) AS ss_tot,
                st2 / k - g * g / (n * k) AS ss_rows,
                sc2 / n - g * g / (n * k) AS ss_cols,
                sx2 - sc2 / n AS sum_var_i,
                st2 - g * g / n AS var_t
              FROM f
            ),
            m2 AS (
              SELECT n_subjects, k_items, n, k, sum_var_i, var_t,
                ss_rows / (n - 1.0) AS msr,
                ss_cols / (k - 1.0) AS msc,
                (ss_tot - ss_rows - ss_cols)
                  / ((n - 1.0) * (k - 1.0)) AS mse
              FROM m
            )
            SELECT n_subjects, k_items,
              CASE WHEN var_t > 0 THEN
                floor(k / (k - 1.0) * (1.0 - sum_var_i / var_t) * 1e6)
                  / 1e6
              END AS alpha_q6,
              floor((msr - mse)
                    / (msr + (k - 1.0) * mse + k * (msc - mse) / n)
                    * 1e6) / 1e6 AS icc2_q6
            FROM m2
        """)
def _q_reliability(spark, sf_dir):
    """Cronbach's alpha + ICC(2,1) over the user x event_type value
    matrix (functions/stats.py interrater_reliability): do the per-type
    spend signals cohere into one reliable per-user activity scale?
    Cells are BIGINT sums of cent-quantized values (absent cell = 0 by
    contract); alpha and the two-way ANOVA mean squares are single
    fixed-op-order float expressions over five integer aggregates."""

    ev = read(spark, sf_dir, "events")
    return interrater_reliability(
        ev, "user_id", "event_type", "value", quantize=2
    )


@query(oracle="""
            WITH d AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS x,
                CAST(round(6.0 * len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0))::DOUBLE * 1, 0) AS BIGINT)
                  AS y
              FROM documents
            ),
            agg AS (
              SELECT source, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS syy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS sxy
              FROM d GROUP BY source
            ),
            f AS (
              SELECT source, n,
                n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
                sxx::DOUBLE AS sxxd, syy::DOUBLE AS syyd,
                sxy::DOUBLE AS sxyd
              FROM agg
            ),
            c AS (
              SELECT source, n, nd,
                sxxd / nd - (sxd / nd) * (sxd / nd) AS cxx,
                syyd / nd - (syd / nd) * (syd / nd) AS cyy,
                sxyd / nd - (sxd / nd) * (syd / nd) AS cxy,
                sxd / nd - syd / nd AS dm,
                sxd - syd AS sd_,
                sxxd - 2.0 * sxyd + syyd AS sdd
              FROM f
            ),
            b AS (
              SELECT source, n, nd, cxx, cyy, cxy, dm,
                sd_ / nd AS bias,
                1.96 * sqrt((sdd - sd_ * sd_ / nd) / (nd - 1.0))
                  AS half
              FROM c
            )
            SELECT source, n,
              floor(2.0 * cxy / (cxx + cyy + dm * dm) * 1e6) / 1e6
                AS ccc_q6,
              floor(cxy / sqrt(cxx * cyy) * 1e6) / 1e6 AS pearson_q6,
              floor(bias / 1.0 * 1e6) / 1e6 AS bias_q6,
              floor((bias - half) / 1.0 * 1e6) / 1e6 AS loa_lo_q6,
              floor((bias + half) / 1.0 * 1e6) / 1e6 AS loa_hi_q6
            FROM b
        """)
def _q_agreement(spark, sf_dir):
    """Lin's CCC + Bland-Altman limits (functions/stats.py
    concordance_agreement) validating the 6-chars-per-word length
    estimator against true n_chars, per source — the
    scale-shift-penalizing agreement read Pearson r can't give.
    Integer moments (x = n_chars, y = 6 * whitespace tokens); one
    combinable aggregate per source."""

    d = read(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("double").alias("x"),
        (
            F.lit(6.0)
            * F.size(
                tokens(F.col("text"))
            ).cast("double")
        ).alias("y"),
    )
    return concordance_agreement(d, "x", "y", ("source",), quantize=0)


@query(oracle="""
            WITH vg AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v,
                count(*)::BIGINT AS c
              FROM documents
              WHERE CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) > 0
              GROUP BY source, v
            ),
            cells AS (
              SELECT source, v, c,
                sum(c) OVER (PARTITION BY source)::BIGINT AS n,
                sum(c * v) OVER (PARTITION BY source)::BIGINT AS x
              FROM vg
            ),
            stepped AS (
              SELECT source, n, x,
                sum(c::DOUBLE * v::DOUBLE / x::DOUBLE
                    * ln(v::DOUBLE * n::DOUBLE / x::DOUBLE))
                  OVER (PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS th,
                sum(c::DOUBLE * ln(v::DOUBLE))
                  OVER (PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sl,
                row_number() OVER (PARTITION BY source ORDER BY v)
                  AS rn,
                count(*) OVER (PARTITION BY source) AS k
              FROM cells
            )
            SELECT source, n,
              floor(th * 1e6) / 1e6 AS theil_q6,
              floor((1.0 - exp(sl / n::DOUBLE)
                     / (x::DOUBLE / n::DOUBLE)) * 1e6) / 1e6
                AS atkinson_q6
            FROM stepped WHERE rn = k
        """)
def _q_inequality(spark, sf_dir):
    """Theil T + Atkinson(1) inequality of document length per source
    (functions/stats.py inequality_indices) — the decomposable
    complements to q_gini_sources. ln terms accumulate in fixed value
    order over the distinct-length table; scale-invariant, so the
    integer grid needs no descale."""

    d = read(spark, sf_dir, "documents")
    return inequality_indices(d, "n_chars", ("source",), quantize=0)


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                coalesce(sum(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cab,
                coalesce(sum(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cbb
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                sum(ca * (2 * (cab + cbb) + ca + cb + 1))::BIGINT
                  AS sda,
                sum(cb * (2 * (cab + cbb) + ca + cb + 1))::BIGINT
                  AS sdb,
                sum(ca * (2 * cbb + cb))::BIGINT AS sua,
                sum(ca * (2 * cbb + cb) * (2 * cbb + cb))::BIGINT
                  AS suua,
                sum(cb * (2 * cab + ca))::BIGINT AS sub,
                sum(cb * (2 * cab + ca) * (2 * cab + ca))::BIGINT
                  AS suub
              FROM cum
            ),
            m AS (
              SELECT n_a, n_b, n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                sda::DOUBLE / (2.0 * n_a::DOUBLE) AS rba,
                sdb::DOUBLE / (2.0 * n_b::DOUBLE) AS rbb,
                sda::DOUBLE / n_a::DOUBLE - (n_a::DOUBLE + 1.0)
                  AS cca,
                sdb::DOUBLE / n_b::DOUBLE - (n_b::DOUBLE + 1.0)
                  AS ccb,
                sua::DOUBLE AS suad, suua::DOUBLE AS suuad,
                sub::DOUBLE AS subd, suub::DOUBLE AS suubd
              FROM agg
            ),
            m2 AS (
              SELECT n_a, n_b, na, nb, rba, rbb,
                (suuad - 2.0 * cca * suad + na * cca * cca) / 4.0
                  / (na - 1.0) AS s2a,
                (suubd - 2.0 * ccb * subd + nb * ccb * ccb) / 4.0
                  / (nb - 1.0) AS s2b
              FROM m
            ),
            m3 AS (
              SELECT n_a, n_b, na, nb, rba, rbb, s2a, s2b,
                na * s2a + nb * s2b AS t
              FROM m2
            )
            SELECT n_a, n_b,
              floor((rbb - (nb + 1.0) / 2.0) / na * 1e6) / 1e6
                AS p_hat_q6,
              CASE WHEN t > 0 THEN
                floor(na * nb * (rbb - rba) / (na + nb) / sqrt(t)
                      * 1e6) / 1e6
              END AS w_q6,
              CASE WHEN t > 0 THEN
                floor(t * t
                      / ((na * s2a) * (na * s2a) / (na - 1.0)
                         + (nb * s2b) * (nb * s2b) / (nb - 1.0))
                      * 1e6) / 1e6
              END AS df_q6
            FROM m3
        """)
def _q_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel test between the BUILDING and MACHINERY
    segments on account balance (functions/stats.py brunner_munzel) —
    q_mann_whitney's Behrens-Fisher-robust sibling: valid when the
    two segments have different spread. Every ingredient reduces to
    the distinct-value count table (doubled midranks/placements are
    BIGINT moment sums); studentized W + Satterthwaite df."""

    c = read(spark, sf_dir, "customer")
    return brunner_munzel(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH base AS (
              SELECT c_mktsegment AS g,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) - 450000
                  AS d
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            nz AS (SELECT g, d FROM base WHERE d <> 0),
            cnt AS (
              SELECT g, abs(d) AS a,
                sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
                count(*)::BIGINT AS c
              FROM nz GROUP BY g, abs(d)
            ),
            rk AS (
              SELECT g, cp, c,
                2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS d2
              FROM cnt
            ),
            agg AS (
              SELECT g, sum(c)::BIGINT AS n_nonzero,
                sum(cp * d2)::BIGINT AS w2,
                sum(c * c * c - c)::BIGINT AS tie3
              FROM rk GROUP BY g
            ),
            m AS (
              SELECT g, n_nonzero,
                n_nonzero::DOUBLE AS nd,
                w2::DOUBLE / 2.0 AS w,
                tie3::DOUBLE AS tie3d
              FROM agg
            )
            SELECT g AS c_mktsegment, n_nonzero,
              w AS w_plus_q1,
              CASE WHEN nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
                        - tie3d / 48.0 > 0 THEN
                floor((w - nd * (nd + 1.0) / 4.0)
                      / sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0)
                             / 24.0 - tie3d / 48.0) * 1e6) / 1e6
              END AS z_q6
            FROM m
        """)
def _q_wilcoxon(spark, sf_dir):
    """One-sample Wilcoxon signed-rank per market segment against a
    hypothesized 4500.00 balance (functions/stats.py
    wilcoxon_signed_rank): the distribution-free 'is the median
    really at the SLA point' gate; doubled midranks over \\|diff\\|
    keep 2W+ BIGINT, tie-corrected z."""

    c = read(spark, sf_dir, "customer")
    return wilcoxon_signed_rank(
        c, "c_acctbal", m0_q=450000, group_cols=("c_mktsegment",),
        quantize=2,
    )


@query(oracle="""
            WITH per_user AS (
              SELECT user_id, min(ts) AS startt, max(ts) AS lastt,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS p,
                min(CASE WHEN event_type = 'error' THEN ts END) AS e
              FROM events GROUP BY user_id
            ),
            obs AS (
              SELECT
                CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                     THEN 1
                     WHEN e IS NOT NULL THEN 2 ELSE 0 END AS cause,
                CAST(floor(
                  (epoch_us(CASE WHEN p IS NOT NULL
                                      AND (e IS NULL OR p <= e)
                                 THEN p
                                 WHEN e IS NOT NULL THEN e
                                 ELSE lastt END)
                   - epoch_us(startt))::DOUBLE / 3600000000.0)
                  AS BIGINT) AS t
              FROM per_user
            ),
            tc AS (
              SELECT t, cause AS k, count(*)::BIGINT AS dk
              FROM obs GROUP BY t, cause
            ),
            per_t AS (
              SELECT t,
                sum(CASE WHEN k > 0 THEN dk ELSE 0 END)::BIGINT AS d,
                sum(dk)::BIGINT AS all_exits
              FROM tc GROUP BY t
            ),
            total AS (
              SELECT sum(all_exits)::BIGINT AS n_total FROM per_t
            ),
            risk AS (
              SELECT t, d,
                (n_total - coalesce(sum(all_exits) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0))::BIGINT AS n
              FROM per_t, total
            ),
            steps AS (
              SELECT t, n,
                CASE WHEN d = 0 THEN 0
                     WHEN d < n THEN
                       CAST(floor(ln(1.0 - d::DOUBLE / n::DOUBLE)
                                  * 1e9) AS BIGINT)
                END AS step
              FROM risk
            ),
            cumb AS (
              SELECT t, n,
                coalesce(sum(step) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb,
                coalesce(max(CASE WHEN step IS NULL THEN 1 ELSE 0
                             END) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS absorbed
              FROM steps
            ),
            terms AS (
              SELECT k, tc.t AS t, n AS n_at_risk, dk AS d_cause,
                (CASE WHEN absorbed = 1 THEN 0.0
                      ELSE exp(cb::DOUBLE / 1e9) END)
                  * (dk::DOUBLE / n::DOUBLE) AS inc
              FROM tc JOIN cumb ON tc.t = cumb.t
              WHERE k > 0
            )
            SELECT k AS cause, t, n_at_risk, d_cause,
              floor(sum(inc) OVER (PARTITION BY k ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1e6) / 1e6 AS cif_q6
            FROM terms
        """)
def _q_competing_risks(spark, sf_dir):
    """Aalen-Johansen cumulative incidence of first-purchase vs
    first-error per user (functions/stats.py competing_risks_cif):
    cause = whichever comes first (purchase wins exact ties),
    censored at last activity; integer-hour durations from exact
    epoch-microsecond arithmetic. The competing-risks completion of
    the q_kaplan_meier family — 1-KM per cause would overstate
    both."""

    ev = read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("start"),
        F.max("ts").alias("last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("e"),
    )
    cause = (
        F.when(
            F.col("p").isNotNull()
            & (F.col("e").isNull() | (F.col("p") <= F.col("e"))),
            F.lit(1),
        )
        .when(F.col("e").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    endt = (
        F.when(cause == 1, F.col("p"))
        .when(cause == 2, F.col("e"))
        .otherwise(F.col("last"))
    )
    # parquet timestamps load as NTZ; the NTZ->LTZ cast shifts BOTH
    # endpoints by the same session offset, so the difference is exact
    um = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    obs = per_user.select(
        F.floor(
            (um(endt) - um(F.col("start"))).cast("double")
            / F.lit(3600000000.0)
        )
        .cast("long")
        .alias("dur_h"),
        cause.alias("cause"),
    )
    return competing_risks_cif(obs, "dur_h", "cause")


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                sum(cb * (2 * lo + ca + cb + 1))::BIGINT AS sd1,
                sum(cb * (2 * lo + ca + cb + 1)
                       * (2 * lo + ca + cb + 1))::BIGINT AS sd2
              FROM cum
            ),
            f AS (
              SELECT n_a, n_b, n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                n_a::DOUBLE + n_b::DOUBLE AS nn,
                sd2::DOUBLE / 4.0 AS ss2, sd1::DOUBLE AS sd1d
              FROM agg
            ),
            m AS (
              SELECT n_a, n_b, na, nb, nn, ss2,
                nb * (nn + 1.0) * (nn + 1.0) - (nn + 1.0) * sd1d
                  + ss2 AS sc2,
                nb * (nn + 1.0) * (2.0 * nn + 1.0) AS mean0,
                sqrt(na * nb * (nn + 1.0) * (2.0 * nn + 1.0)
                     * (8.0 * nn + 11.0) / 5.0) AS den,
                2.0 * (nn * nn - 4.0)
                  / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0
                  AS rho
              FROM f
            ),
            uv AS (
              SELECT n_a, n_b, rho,
                (6.0 * ss2 - mean0) / den AS u,
                (6.0 * sc2 - mean0) / den AS v
              FROM m
            )
            SELECT n_a, n_b,
              floor(u * 1e6) / 1e6 AS u_q6,
              floor(v * 1e6) / 1e6 AS v_q6,
              floor((u * u + v * v - 2.0 * rho * u * v)
                    / (2.0 * (1.0 - rho * rho)) * 1e6) / 1e6 AS c_q6
            FROM uv
        """)
def _q_cucconi(spark, sf_dir):
    """Cucconi joint location-scale test, BUILDING vs MACHINERY
    account balances (functions/stats.py cucconi_test): one statistic
    that rejects when either the center or the spread moved — the
    screen before choosing q_mann_whitney or a scale test. Doubled
    midranks keep both squared-rank sums integer."""

    c = read(spark, sf_dir, "customer")
    return cucconi_test(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )
