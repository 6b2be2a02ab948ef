"""Driver queries over ``functions/stats.py`` (statistical tests and
estimators)."""

import math as _math

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text
from png_from_pdf_extracter_spark.functions.stats import (
    anderson_darling_2s,
    anova_oneway,
    ansari_bradley,
    autocorr_lag1,
    benford_digits,
    bh_fdr,
    bowker_symmetry,
    brunner_munzel,
    capture_recapture,
    changepoint_binary_seg,
    changepoint_single,
    chi2_independence,
    cliffs_delta,
    cochran_armitage,
    cochran_q,
    competing_risks_cif,
    concordance_agreement,
    conditional_entropy,
    correlogram,
    cramer_von_mises_2s,
    cramers_v,
    cucconi_test,
    cuped_adjust,
    cusum_drift,
    did_estimate,
    durbin_watson,
    effect_sizes,
    energy_distance_2s,
    forecast_accuracy,
    friedman_test,
    gini_concentration,
    gini_gain,
    group_influence,
    grubbs_test,
    gwet_ac1,
    hellinger_distance,
    hill_tail_index,
    hodges_lehmann,
    holm_bonferroni,
    huber_location,
    hurst_rs,
    inequality_indices,
    interrater_reliability,
    jackknife_group_se,
    jonckheere_terpstra,
    kaplan_meier,
    kendall_tau_b,
    kendalls_w,
    kpss_level,
    kruskal_wallis,
    levene_bf,
    ljung_box,
    log_rank_test,
    mann_kendall,
    mann_whitney_u,
    mantel_haenszel,
    mood_median_test,
    msprt_gate,
    nelson_aalen,
    ordinal_association,
    overdispersion_index,
    page_trend_test,
    partial_corr,
    pettitt_test,
    poisson_bootstrap_ci,
    poisson_rate_ratio,
    quade_test,
    risk_ratios,
    rmst,
    rolling_median,
    running_distinct,
    runs_test,
    seasonal_decompose,
    siegel_tukey,
    slope_break,
    spearman_corr,
    srm_check,
    theil_sen_slope,
    tukey_hsd,
    two_proportion_diff,
    variance_ratio,
    weighted_quantile,
    welch_t_test,
    wilcoxon_signed_rank,
    wilson_interval,
    winsorize,
    woolf_homogeneity,
    yuen_trimmed_t,
)
from png_from_pdf_extracter_spark.functions.text import lang_id, tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    LANG_CASE,
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
            WITH base AS (
              SELECT o_orderpriority AS g,
                     date_trunc('month', o_orderdate) AS month,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
              FROM orders GROUP BY 1, 2
            ),
            idxed AS (
              SELECT g, v,
                     row_number() OVER (
                       PARTITION BY g ORDER BY month
                     ) AS idx
              FROM base
            ),
            marked AS (
              SELECT g, idx, v,
                     sum(v) OVER (
                       PARTITION BY g ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sl,
                     sum(v) OVER (PARTITION BY g) AS st,
                     count(*) OVER (PARTITION BY g) AS n
              FROM idxed
            ),
            scored AS (
              SELECT g, idx,
                     (sl * (n - idx) - (st - sl) * idx)::DOUBLE
                     * (sl * (n - idx) - (st - sl) * idx)::DOUBLE
                     / (idx * (n - idx))::DOUBLE AS bss
              FROM marked WHERE idx >= 2 AND idx <= n - 2
            ),
            best AS (
              SELECT g, idx AS split FROM (
                SELECT g, idx,
                       row_number() OVER (
                         PARTITION BY g ORDER BY bss DESC, idx ASC
                       ) AS r
                FROM scored WHERE bss >= 0.0
              ) WHERE r = 1
            ),
            segged AS (
              SELECT i.g, i.idx, i.v,
                     CASE WHEN b.split IS NOT NULL
                               AND i.idx > b.split
                          THEN 1 ELSE 0 END AS segment
              FROM idxed i LEFT JOIN best b ON i.g = b.g
            )
            SELECT g AS o_orderpriority, segment,
                   min(idx)::BIGINT AS start_idx,
                   max(idx)::BIGINT AS end_idx,
                   count(*)::BIGINT AS n,
                   floor(sum(v)::DOUBLE / count(*) * 1e6) / 1e6 AS mean_q
            FROM segged GROUP BY g, segment
        """)
def _q_binseg(spark, sf_dir):
    """Binary-segmentation changepoints (functions/stats.py
    changepoint_binary_seg) on the monthly revenue series per order
    priority — exact-integer contrast scoring, all groups advancing in
    parallel per round. ORACLED since r4 (r3 verdict #6) at the K=1
    case: one greedy round IS the single-split argmax, which DuckDB
    expresses with the same windowed prefix-sum construction as
    q_changepoint plus the two-segment rollup. The multi-split (K=3)
    greedy recursion stays pinned against the brute-force reference in
    tests/test_stats.py — iteration count changes nothing about the
    per-round plan the driver artifact needs to witness."""

    o = read(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "rev_cents"
        )
    )
    return changepoint_binary_seg(
        monthly,
        ("o_orderpriority",),
        ("month",),
        "rev_cents",
        max_changepoints=1,
        quantize=0,
    )


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
    The two-sample parametric gate q_anova generalizes to k groups;
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


@query(oracle="""
            WITH base AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS y,
                     ts, event_id
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            idx AS (
              SELECT g, y,
                     row_number() OVER (PARTITION BY g
                       ORDER BY ts, event_id) AS x
              FROM base
            ),
            pre AS (
              SELECT g, x,
                sum(x) OVER wr AS sx, sum(y) OVER wr AS sy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) OVER wr AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) OVER wr AS syy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) OVER wr AS sxy,
                count(*) OVER (PARTITION BY g) AS n,
                sum(x) OVER (PARTITION BY g) AS tx,
                sum(y) OVER (PARTITION BY g) AS ty,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS txx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS tyy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS txy
              FROM idx
              WINDOW wr AS (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            c1 AS (
              SELECT g, n, x,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / x::DOUBLE
                  AS cxxl,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / x::DOUBLE
                  AS cxyl,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / x::DOUBLE
                  AS cyyl,
                (txx - sxx)::DOUBLE
                  - (tx - sx)::DOUBLE * (tx - sx)::DOUBLE
                    / (n - x)::DOUBLE AS cxxr,
                (txy - sxy)::DOUBLE
                  - (tx - sx)::DOUBLE * (ty - sy)::DOUBLE
                    / (n - x)::DOUBLE AS cxyr,
                (tyy - syy)::DOUBLE
                  - (ty - sy)::DOUBLE * (ty - sy)::DOUBLE
                    / (n - x)::DOUBLE AS cyyr,
                txx::DOUBLE - tx::DOUBLE * tx::DOUBLE / n::DOUBLE
                  AS cxx1,
                txy::DOUBLE - tx::DOUBLE * ty::DOUBLE / n::DOUBLE
                  AS cxy1,
                tyy::DOUBLE - ty::DOUBLE * ty::DOUBLE / n::DOUBLE
                  AS cyy1
              FROM pre
            ),
            c2 AS (
              SELECT g, n, x AS b,
                (CASE WHEN cxxl > 0
                      THEN cyyl - cxyl * cxyl / cxxl ELSE cyyl END)
                + (CASE WHEN cxxr > 0
                        THEN cyyr - cxyr * cxyr / cxxr ELSE cyyr END)
                  AS sse,
                CASE WHEN cxxl <> 0 THEN cxyl / cxxl END AS sl,
                CASE WHEN cxxr <> 0 THEN cxyr / cxxr END AS sr,
                CASE WHEN cxx1 > 0
                     THEN cyy1 - cxy1 * cxy1 / cxx1 ELSE cyy1 END
                  AS sse1
              FROM c1 WHERE x >= 3 AND x <= n - 3
            ),
            best AS (
              SELECT g, n, b, sl, sr, sse, sse1,
                row_number() OVER (PARTITION BY g
                  ORDER BY sse ASC, b ASC) AS rn
              FROM c2
            )
            SELECT g AS event_type, n::BIGINT AS n, b::BIGINT
                     AS break_idx,
              CASE WHEN sl IS NOT NULL THEN
                floor(sl / 100.0 * 1e6) / 1e6 END AS slope_l_q6,
              CASE WHEN sr IS NOT NULL THEN
                floor(sr / 100.0 * 1e6) / 1e6 END AS slope_r_q6,
              floor(sse / 10000.0 * 100.0) / 100.0 AS sse_break_q2,
              floor(sse1 / 10000.0 * 100.0) / 100.0 AS sse_single_q2,
              CASE WHEN sse1 > 0 THEN
                floor((1.0 - sse / sse1) * 1e6) / 1e6 END AS gain_q6
            FROM best WHERE rn = 1
        """)
def _q_slope_break(spark, sf_dir):
    """Per-event-type slope-change breakpoint (functions/stats.py
    slope_break): where does the value trend CHANGE SLOPE, the break
    q_changepoint's mean-shift statistic cannot see. Integer prefix
    sums off one ordered window; every candidate's two-segment SSE is
    a fixed float expression; struct-min argmin."""

    ev = read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return slope_break(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
    )


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
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS v
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            r1 AS (
              SELECT g, v, c,
                coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cb,
                sum(c) OVER (PARTITION BY g) AS ng
              FROM vg
            ),
            m1 AS (
              SELECT g,
                sum(v * (CASE WHEN cb < floor((ng + 1) / 2)
                              AND cb + c >= floor((ng + 1) / 2)
                         THEN 1 ELSE 0 END
                         + CASE WHEN cb < floor(ng / 2) + 1
                                AND cb + c >= floor(ng / 2) + 1
                           THEN 1 ELSE 0 END))::BIGINT AS med2,
                max(ng)::BIGINT AS ng
              FROM r1 GROUP BY g
            ),
            dev AS (
              SELECT vg.g, vg.c,
                     abs(2 * vg.v - m1.med2) AS a2,
                     2 * vg.v - m1.med2 AS d2
              FROM vg JOIN m1 ON vg.g = m1.g
            ),
            devc AS (
              SELECT g, a2, sum(c)::BIGINT AS c FROM dev GROUP BY g, a2
            ),
            r2 AS (
              SELECT g, a2, c,
                coalesce(sum(c) OVER (PARTITION BY g ORDER BY a2
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cb,
                sum(c) OVER (PARTITION BY g) AS ng
              FROM devc
            ),
            m2 AS (
              SELECT g,
                sum(a2 * (CASE WHEN cb < floor((ng + 1) / 2)
                               AND cb + c >= floor((ng + 1) / 2)
                          THEN 1 ELSE 0 END
                          + CASE WHEN cb < floor(ng / 2) + 1
                                 AND cb + c >= floor(ng / 2) + 1
                            THEN 1 ELSE 0 END))::BIGINT AS mad4
              FROM r2 GROUP BY g
            ),
            ag AS (
              SELECT dev.g,
                sum(dev.c * greatest(-(m2.mad4 * 3),
                    least(m2.mad4 * 3, 2 * dev.d2 * 2)))::BIGINT AS cs
              FROM dev JOIN m2 ON dev.g = m2.g GROUP BY dev.g
            )
            SELECT m1.g AS event_type, m1.ng AS n_g,
              floor(m1.med2::DOUBLE / 2.0 / 100.0 * 1e6) / 1e6
                AS median_q6,
              floor((m1.med2::DOUBLE / 2.0
                     + cs::DOUBLE / (4.0 * m1.ng::DOUBLE * 2.0))
                    / 100.0 * 1e6) / 1e6 AS huber_q6
            FROM m1 JOIN ag ON m1.g = ag.g
        """)
def _q_huber(spark, sf_dir):
    """Per-event-type one-step Huber location (functions/stats.py
    huber_location): the robust mean that clips — not drops — tail
    deviations at 1.5 MAD; doubled-median rank-reach keeps every
    statistic integral until one final float expression."""

    ev = read(spark, sf_dir, "events").select("event_type", "value")
    return huber_location(ev, "value", ("event_type",))


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
            WITH base AS (
              SELECT event_type AS s,
                     CAST(user_id % 2 AS INT) AS a,
                     CASE WHEN value > 150 THEN 1 ELSE 0 END AS y
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
            ),
            per AS (
              SELECT s,
                sum(a * y)::BIGINT AS ta,
                sum(a * (1 - y))::BIGINT AS tb,
                sum((1 - a) * y)::BIGINT AS tc,
                sum((1 - a) * (1 - y))::BIGINT AS td
              FROM base GROUP BY s
              HAVING (sum(a * y) + sum(a * (1 - y))
                      + sum((1 - a) * y)
                      + sum((1 - a) * (1 - y))) >= 2
            ),
            t AS (
              SELECT s, ta, tb, tc, td,
                (ta + tb + tc + td)::DOUBLE AS n
              FROM per
            ),
            stepped AS (
              SELECT
                sum(ta::DOUBLE * td::DOUBLE / n) OVER w AS r,
                sum(tb::DOUBLE * tc::DOUBLE / n) OVER w AS ss,
                sum(ta::DOUBLE
                    - (ta::DOUBLE + tb::DOUBLE)
                      * (ta::DOUBLE + tc::DOUBLE) / n) OVER w AS dev,
                sum((ta::DOUBLE + tb::DOUBLE)
                    * (tc::DOUBLE + td::DOUBLE)
                    * (ta::DOUBLE + tc::DOUBLE)
                    * (tb::DOUBLE + td::DOUBLE)
                    / (n * n * (n - 1.0))) OVER w AS v,
                row_number() OVER (ORDER BY s) AS rn,
                count(*) OVER () AS k
              FROM t
              WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            last AS (SELECT * FROM stepped WHERE rn = k)
            SELECT k::BIGINT AS k_strata,
              CASE WHEN r > 0 AND ss > 0 THEN
                floor(r / ss * 1e6) / 1e6 END AS or_mh_q6,
              CASE WHEN v > 0 THEN
                floor(dev * dev / v * 1e6) / 1e6 END AS chi2_q6
            FROM last
        """)
def _q_mantel_haenszel(spark, sf_dir):
    """Stratified A/B readout (functions/stats.py mantel_haenszel):
    pooled odds ratio + CMH chi² of 'high-value event' (value > 150)
    between user-parity arms, stratified by event type — the
    Simpson-safe version of q_ab_test's single 2x2. One conditional
    aggregate to the k-strata cell table, fixed-order stepped pooling."""

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("value") > 150).cast("int").alias("hi"),
    )
    return mantel_haenszel(ev, "event_type", "arm", "hi")


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
            WITH a AS (
              SELECT DISTINCT user_id AS id FROM events
              WHERE event_id % 2 = 0 AND user_id IS NOT NULL
            ),
            b AS (
              SELECT DISTINCT user_id AS id FROM events
              WHERE event_id % 2 = 1 AND user_id IS NOT NULL
            ),
            agg AS (
              SELECT (SELECT count(*) FROM a)::BIGINT AS n1,
                     (SELECT count(*) FROM b)::BIGINT AS n2,
                     (SELECT count(*) FROM a JOIN b USING (id))::BIGINT
                       AS m
            )
            SELECT n1, n2, m,
              CASE WHEN m > 0 THEN
                floor(((n1::DOUBLE + 1.0) * (n2::DOUBLE + 1.0)
                       / (m::DOUBLE + 1.0) - 1.0) * 1e6) / 1e6
              END AS est_q6,
              CASE WHEN m > 0 THEN
                floor(sqrt((n1::DOUBLE + 1.0) * (n2::DOUBLE + 1.0)
                           * (n1::DOUBLE - m::DOUBLE)
                           * (n2::DOUBLE - m::DOUBLE)
                           / ((m::DOUBLE + 1.0) * (m::DOUBLE + 1.0)
                              * (m::DOUBLE + 2.0))) * 1e6) / 1e6
              END AS se_q6
            FROM agg
        """)
def _q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture population estimate
    (functions/stats.py capture_recapture): the even-event-id and
    odd-event-id halves of the log are two 'crawls' of the user space;
    their overlap estimates the total distinct-user population — the
    coverage-audit number. Three distinct aggregates + one semi-join,
    two fixed float expressions."""

    ev = read(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("user_id").alias("id")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("id")
    )
    return capture_recapture(a, b)


@query(oracle="""
            WITH seq AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS x,
                     event_type AS y
              FROM events
            ),
            base AS (
              SELECT x, y FROM seq
              WHERE x IS NOT NULL AND y IS NOT NULL
            ),
            xy AS (
              SELECT x, y, count(*)::BIGINT AS c FROM base GROUP BY x, y
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM xy),
            cells AS (
              SELECT x, y, c, sum(c) OVER (PARTITION BY x) AS cx FROM xy
            ),
            stepped AS (
              SELECT n,
                     sum(c::DOUBLE / n::DOUBLE
                         * ln(cx::DOUBLE / c::DOUBLE)) OVER (
                       ORDER BY x, y ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS hc,
                     row_number() OVER (ORDER BY x, y) AS rn,
                     count(*) OVER () AS k
              FROM cells, tot
            ),
            hcond AS (SELECT n, hc FROM stepped WHERE rn = k),
            yc AS (SELECT y, count(*)::BIGINT AS cy FROM base GROUP BY y),
            ystep AS (
              SELECT sum(cy::DOUBLE / n::DOUBLE
                         * ln(n::DOUBLE / cy::DOUBLE)) OVER (
                       ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND
                       CURRENT ROW) AS hy,
                     row_number() OVER (ORDER BY y) AS rn,
                     count(*) OVER () AS k
              FROM yc, tot
            ),
            hyt AS (SELECT hy FROM ystep WHERE rn = k)
            SELECT n,
              floor(hy * 1e6) / 1e6 AS h_y_q6,
              floor(hc * 1e6) / 1e6 AS h_cond_q6,
              CASE WHEN hy > 0 THEN
                floor((hy - hc) / hy * 1e6) / 1e6
              END AS theil_u_q6
            FROM hcond, hyt
        """)
def _q_cond_entropy(spark, sf_dir):
    """Conditional entropy + Theil's U of event transitions
    (functions/stats.py conditional_entropy): how much does knowing
    the PREVIOUS event type tell you about the next one — the
    asymmetric association q_cramers_v can't express. Same per-user
    (ts, event_id) lag contract as q_event_transitions; fixed-order
    stepped ln sums over the k x k contingency table."""

    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("x"),
        F.col("event_type").alias("y"),
    ).filter(F.col("x").isNotNull())
    return conditional_entropy(seq, "x", "y")


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
            WITH agg AS (
              SELECT source, count(*)::BIGINT AS n,
                     sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0
                         END)::BIGINT AS successes
              FROM documents GROUP BY source
            ),
            t AS (
              SELECT source, n, successes,
                successes::DOUBLE / n::DOUBLE AS p,
                1.0 + 3.8415999999999997 / n::DOUBLE AS denom
              FROM agg
            ),
            f AS (
              SELECT source, n, successes, p,
                (p + 3.8415999999999997 / (2.0 * n::DOUBLE)) / denom
                  AS center,
                1.96 / denom * sqrt(p * (1.0 - p) / n::DOUBLE
                  + 3.8415999999999997
                    / (4.0 * n::DOUBLE * n::DOUBLE)) AS half
              FROM t
            )
            SELECT source, n, successes,
              floor(p * 1e6) / 1e6 AS p_q6,
              floor(greatest(center - half, 0.0) * 1e6) / 1e6 AS lo_q6,
              floor(least(center + half, 1.0) * 1e6) / 1e6 AS hi_q6
            FROM f
        """)
def _q_wilson(spark, sf_dir):
    """Per-source Wilson score intervals (functions/stats.py
    wilson_interval) on the short-document rate (n_chars < 500) —
    honest error bars on every shard's rate, stable at the 0/1 edges
    where Wald collapses. One combinable (n, successes) aggregate per
    group; the interval is a fixed float expression over two
    integers."""

    d = read(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") < 500).cast("int").alias("short")
    )
    return wilson_interval(d, "short", group_cols=("source",))


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
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(event_type AS VARCHAR) AS g
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            pc AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g,
                     sum(CAST(v AS DECIMAL(38,0))
                         * CAST(v AS DECIMAL(38,0))) AS q_g
              FROM base GROUP BY g
            ),
            stepped AS (
              SELECT sum(s_g::DOUBLE * s_g::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (
              SELECT sb, kk::BIGINT AS kk FROM stepped WHERE rn = kk
            ),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            ),
            msw AS (
              SELECT n, kk,
                     (q::DOUBLE - sb) / (n::DOUBLE - kk::DOUBLE) AS msw
              FROM tt, sf
            )
            SELECT a.g AS g_a, b.g AS g_b,
              a.n_g AS n_a, b.n_g AS n_b,
              floor(a.s_g::DOUBLE / a.n_g::DOUBLE / 100.0 * 1e6) / 1e6
                AS mean_a_q6,
              floor(b.s_g::DOUBLE / b.n_g::DOUBLE / 100.0 * 1e6) / 1e6
                AS mean_b_q6,
              floor((a.s_g::DOUBLE / a.n_g::DOUBLE
                     - b.s_g::DOUBLE / b.n_g::DOUBLE) / 100.0 * 1e6) / 1e6
                AS diff_q6,
              CASE WHEN msw > 0 AND n > kk THEN
                floor(abs(a.s_g::DOUBLE / a.n_g::DOUBLE
                          - b.s_g::DOUBLE / b.n_g::DOUBLE)
                      / sqrt(msw / 2.0
                             * (1.0 / a.n_g::DOUBLE
                                + 1.0 / b.n_g::DOUBLE))
                      * 1e6) / 1e6
              END AS q_q6
            FROM pc a, pc b, msw
            WHERE a.g < b.g
        """)
def _q_tukey(spark, sf_dir):
    """Tukey-Kramer HSD pairwise mean comparisons (functions/stats.py
    tukey_hsd): WHICH event types differ in mean value, sharing one
    MSW error term — the follow-up q_anova's single F cannot answer.
    One groupBy to the k-row class table, broadcast self-join on
    g_a < g_b, fixed-order stepped MSW accumulation."""

    ev = read(spark, sf_dir, "events")
    return tukey_hsd(ev, "value", "event_type", quantize=2)


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
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
                     o_orderpriority AS g
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL
            ),
            pc AS (
              SELECT g, count(*)::BIGINT AS n_g,
                     sum(v)::BIGINT AS s_g,
                     sum(CAST(v AS DECIMAL(38,0))
                         * CAST(v AS DECIMAL(38,0))) AS q_g
              FROM base GROUP BY g
            ),
            stepped AS (
              SELECT sum(s_g::DOUBLE * s_g::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT sb, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            )
            SELECT n, k,
                   CAST(floor((sb - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                        / 1e6) AS BIGINT) AS ssb_m6,
                   CAST(floor((q::DOUBLE - sb) / 1e6) AS BIGINT)
                     AS ssw_m6,
                   CASE WHEN k > 1 AND (q::DOUBLE - sb) > 0 THEN
                     floor(((sb - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                            / (k::DOUBLE - 1.0))
                           / ((q::DOUBLE - sb) / (n::DOUBLE - k::DOUBLE))
                           * 1e6) / 1e6
                   END AS f_q6
            FROM tt, sf
        """)
def _q_anova(spark, sf_dir):
    """One-way ANOVA F across the five order priorities on totalprice
    (functions/stats.py anova_oneway) — the parametric mean-shift
    companion to q_kruskal_wallis on the same contrast. Per-class sums
    exact (S_g BIGINT, Q_g DECIMAL so neither engine's overflow rules
    leak in); the between term accumulates in fixed class order."""

    o = read(spark, sf_dir, "orders")
    return anova_oneway(o, "o_totalprice", "o_orderpriority", quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     event_type AS g
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            ranked AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS cb,
                     sum(c) OVER (PARTITION BY g)::BIGINT AS n_g
              FROM vg
            ),
            med AS (
              SELECT g,
                     sum(v * (
                       (CASE WHEN cb < (n_g + 1) // 2
                               AND cb + c >= (n_g + 1) // 2
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < n_g // 2 + 1
                                 AND cb + c >= n_g // 2 + 1
                               THEN 1 ELSE 0 END)
                     ))::BIGINT AS med2
              FROM ranked GROUP BY g
            ),
            z AS (
              SELECT vg.g, vg.c, abs(2 * vg.v - med.med2)::BIGINT AS z2
              FROM vg JOIN med ON vg.g = med.g
            ),
            pc AS (
              SELECT g, sum(c)::BIGINT AS n_g,
                     sum(c * z2)::BIGINT AS zs,
                     sum(CAST(c AS DECIMAL(38,0))
                         * CAST(z2 AS DECIMAL(38,0))
                         * CAST(z2 AS DECIMAL(38,0))) AS q_g
              FROM z GROUP BY g
            ),
            stepped AS (
              SELECT sum(zs::DOUBLE * zs::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT sb, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n, sum(zs)::BIGINT AS z,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            )
            SELECT n, k,
                   CASE WHEN k > 1 AND (q::DOUBLE - sb) > 0 THEN
                     floor(((n::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0))
                           * (sb - z::DOUBLE * z::DOUBLE / n::DOUBLE)
                           / (q::DOUBLE - sb) * 1e6) / 1e6
                   END AS w_q6
            FROM tt, sf
        """)
def _q_levene(spark, sf_dir):
    """Brown-Forsythe equal-variance test across event types on the
    event value (functions/stats.py levene_bf) — the homoscedasticity
    gate before q_anova's F is trusted. Per-class DOUBLED medians via
    the exact integer rank-reach test; deviations stay BIGINT; the
    doubling cancels in W."""

    ev = read(spark, sf_dir, "events")
    return levene_bf(ev, "value", "event_type", quantize=2)


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
            scal AS (
              SELECT sum(r2 * r2)::BIGINT AS a4,
                     count(DISTINCT subj)::BIGINT AS n_subj,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            per_trt AS (
              SELECT trt, sum(r2)::BIGINT AS r2_sum
              FROM ranked GROUP BY trt
            ),
            s AS (
              SELECT sum((r2_sum - n_subj * (k + 1))
                         * (r2_sum - n_subj * (k + 1)))::BIGINT AS s4,
                     max(a4) AS a4,
                     max(n_subj) AS n_subjects,
                     max(k) AS k
              FROM per_trt, scal
            )
            SELECT n_subjects, k,
                   CASE WHEN a4 > n_subjects * k * (k + 1) * (k + 1) THEN
                     floor((k - 1)::DOUBLE * s4::DOUBLE
                           / (a4 - n_subjects * k * (k + 1) * (k + 1))::DOUBLE
                           * 1e6) / 1e6
                   END AS q_q6
            FROM s
        """)
def _q_friedman(spark, sf_dir):
    """Friedman rank test over per-(customer-bucket, order-priority)
    total spend blocks (functions/stats.py friedman_test) — the
    repeated-measures companion to q_kruskal_wallis: ranks live WITHIN
    each subject (window partition size = k, never corpus-wide), the
    doubled-rank identity keeps S4/A4/C4 exact BIGINTs."""

    o = read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return friedman_test(blocks, "subj", "trt", "spend", quantize=0)


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
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            grid AS (
              SELECT gg.g, vv.v, coalesce(cnt.c, 0)::BIGINT AS c
              FROM (SELECT DISTINCT g FROM cnt) gg
              CROSS JOIN (SELECT DISTINCT v FROM cnt) vv
              LEFT JOIN cnt ON cnt.g = gg.g AND cnt.v = vv.v
            ),
            cum AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumb
              FROM grid
            ),
            pref AS (
              SELECT g, v, c,
                     coalesce(sum(cumb) OVER (
                       PARTITION BY v ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS a,
                     coalesce(sum(c) OVER (
                       PARTITION BY v ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS b
              FROM cum
            ),
            j2t AS (SELECT sum(c * (2 * a + b))::BIGINT AS j2 FROM pref),
            sizes AS (SELECT g, sum(c)::BIGINT AS ng FROM cnt GROUP BY g),
            mom AS (
              SELECT sum(ng)::BIGINT AS n,
                     count(*)::BIGINT AS k,
                     sum(ng * ng)::BIGINT AS sn2,
                     sum(ng * ng * (2 * ng + 3))::BIGINT AS sn23
              FROM sizes
            )
            SELECT n, k, j2,
                   (n * n - sn2)::BIGINT AS mean4,
                   (n * n * (2 * n + 3) - sn23)::BIGINT AS var72,
                   CASE WHEN n * n * (2 * n + 3) - sn23 > 0 THEN
                     floor((2 * j2 - (n * n - sn2))::DOUBLE
                           / (4.0 * sqrt((n * n * (2 * n + 3)
                                          - sn23)::DOUBLE / 72.0))
                           * 1e6) / 1e6
                   END AS z_q6
            FROM j2t, mom
        """)
def _q_jonckheere(spark, sf_dir):
    """Jonckheere-Terpstra ordered-trend test of totalprice along the
    five order priorities (functions/stats.py jonckheere_terpstra) —
    '1-URGENT'..'5-LOW' string order IS the dose order. Doubled J2
    from two windows over the dense (group x distinct-value) grid,
    null moments kept integral (mean4, var72)."""

    o = read(spark, sf_dir, "orders")
    return jonckheere_terpstra(
        o, "o_totalprice", "o_orderpriority", quantize=2
    )


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
    """Page's L ordered-trend test over the q_friedman blocks
    (functions/stats.py page_trend_test): within-subject doubled ranks
    weighted by the treatment ordinal; L2 BIGINT, z one float
    expression off integral moments e4/v144."""

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
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            l AS (
              SELECT g, x,
                lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
                lag(x, 3) OVER w AS l3, lag(x, 4) OVER w AS l4,
                lag(x, 5) OVER w AS l5
              FROM s WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(CASE WHEN l1 IS NOT NULL THEN x * l1 END)::BIGINT AS c1,
                sum(CASE WHEN l1 IS NOT NULL THEN x END)::BIGINT AS h1,
                sum(l1)::BIGINT AS t1,
                sum(CASE WHEN l2 IS NOT NULL THEN x * l2 END)::BIGINT AS c2,
                sum(CASE WHEN l2 IS NOT NULL THEN x END)::BIGINT AS h2,
                sum(l2)::BIGINT AS t2,
                sum(CASE WHEN l3 IS NOT NULL THEN x * l3 END)::BIGINT AS c3,
                sum(CASE WHEN l3 IS NOT NULL THEN x END)::BIGINT AS h3,
                sum(l3)::BIGINT AS t3,
                sum(CASE WHEN l4 IS NOT NULL THEN x * l4 END)::BIGINT AS c4,
                sum(CASE WHEN l4 IS NOT NULL THEN x END)::BIGINT AS h4,
                sum(l4)::BIGINT AS t4,
                sum(CASE WHEN l5 IS NOT NULL THEN x * l5 END)::BIGINT AS c5,
                sum(CASE WHEN l5 IS NOT NULL THEN x END)::BIGINT AS h5,
                sum(l5)::BIGINT AS t5
              FROM l GROUP BY g
            ),
            r AS (
              SELECT g, n, n::DOUBLE AS nd,
                sx::DOUBLE / n::DOUBLE AS xb,
                sxx::DOUBLE - n::DOUBLE * (sx::DOUBLE / n::DOUBLE)
                  * (sx::DOUBLE / n::DOUBLE) AS den,
                c1::DOUBLE AS c1d, h1::DOUBLE AS h1d, t1::DOUBLE AS t1d,
                c2::DOUBLE AS c2d, h2::DOUBLE AS h2d, t2::DOUBLE AS t2d,
                c3::DOUBLE AS c3d, h3::DOUBLE AS h3d, t3::DOUBLE AS t3d,
                c4::DOUBLE AS c4d, h4::DOUBLE AS h4d, t4::DOUBLE AS t4d,
                c5::DOUBLE AS c5d, h5::DOUBLE AS h5d, t5::DOUBLE AS t5d
              FROM a
            ),
            rr AS (
              SELECT g, n, nd,
                (c1d - xb * (h1d + t1d) + (nd - 1.0) * xb * xb) / den AS r1,
                (c2d - xb * (h2d + t2d) + (nd - 2.0) * xb * xb) / den AS r2,
                (c3d - xb * (h3d + t3d) + (nd - 3.0) * xb * xb) / den AS r3,
                (c4d - xb * (h4d + t4d) + (nd - 4.0) * xb * xb) / den AS r4,
                (c5d - xb * (h5d + t5d) + (nd - 5.0) * xb * xb) / den AS r5
              FROM r
            ),
            e AS (
              SELECT g, n, nd, r1, r2, r3, r4, r5,
                r1 * r1 / (nd - 1.0) AS e1,
                r2 * r2 / (nd - 2.0) AS e2,
                r3 * r3 / (nd - 3.0) AS e3,
                r4 * r4 / (nd - 4.0) AS e4,
                r5 * r5 / (nd - 5.0) AS e5
              FROM rr
            )
            SELECT g AS event_type, n, 1 AS lag,
              floor(r1 * 1e6) / 1e6 AS r_q6,
              floor(nd * (nd + 2.0) * (e1) * 1e6) / 1e6 AS q_stat_q6
            FROM e
            UNION ALL
            SELECT g, n, 2,
              floor(r2 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 3,
              floor(r3 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 4,
              floor(r4 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3 + e4) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 5,
              floor(r5 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3 + e4 + e5) * 1e6)
                / 1e6
            FROM e
        """)
def _q_ljung_box(spark, sf_dir):
    """Ljung-Box whiteness test on the per-type value series
    (functions/stats.py ljung_box), lags 1-5 ordered by (ts,
    event_id): joint autocorrelation read beyond q_autocorr's single
    lag. Integer lag-product sums per lag; Q accumulates over the
    5-row lag table in fixed order."""

    ev = read(spark, sf_dir, "events")
    return ljung_box(
        ev, ("event_type",), ("ts", "event_id"), "value",
        max_lag=5, quantize=2,
    )


@query(oracle="""
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            p AS (
              SELECT g, x,
                sum(x) OVER (PARTITION BY g ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cx,
                row_number() OVER (PARTITION BY g
                                   ORDER BY ts, event_id) AS t
              FROM s
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(cx * cx) AS scx2, sum(cx * t) AS scxt,
                sum(t * t) AS st2
              FROM p GROUP BY g
            ),
            f AS (
              SELECT g, n, n::DOUBLE AS nd, sx::DOUBLE AS sxd,
                sxx::DOUBLE AS sxxd, scx2::DOUBLE AS scx2d,
                scxt::DOUBLE AS scxtd, st2::DOUBLE AS st2d
              FROM a
            )
            SELECT g AS event_type, n,
              CASE WHEN (sxxd - sxd * (sxd / nd)) / nd > 0 THEN
                floor((scx2d - 2.0 * (sxd / nd) * scxtd
                       + (sxd / nd) * (sxd / nd) * st2d)
                      / (nd * nd * ((sxxd - sxd * (sxd / nd)) / nd))
                      * 1e6) / 1e6
              END AS kpss_q6
            FROM f
        """)
def _q_kpss(spark, sf_dir):
    """KPSS level-stationarity statistic per event type
    (functions/stats.py kpss_level): partial-sum wander of the
    demeaned value series, the trend-drift complement to
    q_ljung_box's whiteness read. The sum of squared partial sums is
    expanded algebraically into three DECIMAL(38,0) prefix-sum
    aggregates — no float accumulates over rows."""

    ev = read(spark, sf_dir, "events")
    return kpss_level(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
    )


@query(oracle="""
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            p AS (
              SELECT g, x,
                sum(x) OVER (PARTITION BY g ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cx,
                row_number() OVER (PARTITION BY g
                                   ORDER BY ts, event_id) AS t
              FROM s
            ),
            p2 AS (
              SELECT g, x, t,
                cx - coalesce(lag(cx, 5) OVER (PARTITION BY g
                                               ORDER BY t), 0) AS y
              FROM p
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(CASE WHEN t >= 5 THEN y END)::BIGINT AS sy,
                sum(CASE WHEN t >= 5 THEN y * y END)::BIGINT AS syy,
                sum(CASE WHEN t >= 5 THEN 1 ELSE 0 END)::BIGINT
                  AS n_windows
              FROM p2 GROUP BY g
            ),
            f AS (
              SELECT g, n, n_windows,
                sxx::DOUBLE / n::DOUBLE
                  - (sx::DOUBLE / n::DOUBLE)
                    * (sx::DOUBLE / n::DOUBLE) AS var1,
                syy::DOUBLE / n_windows::DOUBLE
                  - (sy::DOUBLE / n_windows::DOUBLE)
                    * (sy::DOUBLE / n_windows::DOUBLE) AS varq
              FROM a
            )
            SELECT g AS event_type, n, n_windows,
              CASE WHEN var1 > 0 THEN
                floor(varq / (5.0 * var1) * 1e6) / 1e6
              END AS vr_q6
            FROM f
        """)
def _q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance ratio VR(5) per event type
    (functions/stats.py variance_ratio): overlapping 5-step-sum
    variance over 5x the one-step variance — direction-signed
    random-walk diagnostic next to q_kpss. Overlapping sums off the
    BIGINT prefix sum; both variances integer-moment exact."""

    ev = read(spark, sf_dir, "events")
    return variance_ratio(
        ev, ("event_type",), ("ts", "event_id"), "value",
        q=5, quantize=2,
    )


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
            WITH arms AS (
              SELECT CASE WHEN user_id % 10 < 4 THEN 'a'
                          WHEN user_id % 10 < 7 THEN 'b'
                          ELSE 'c' END AS arm
              FROM events
            ),
            obs AS (
              SELECT arm, count(*)::BIGINT AS o FROM arms GROUP BY arm
            ),
            expd AS (
              SELECT * FROM (VALUES ('a', 4), ('b', 3), ('c', 3))
                t(arm, w)
            ),
            j AS (
              SELECT coalesce(obs.arm, expd.arm) AS arm,
                     coalesce(o, 0) AS o, w
              FROM obs FULL OUTER JOIN expd ON obs.arm = expd.arm
            ),
            tot AS (
              SELECT sum(CASE WHEN w IS NOT NULL THEN o END)::BIGINT
                       AS nm,
                     coalesce(sum(CASE WHEN w IS NULL THEN o END),
                              0)::BIGINT AS nu
              FROM j
            ),
            cells AS (
              SELECT arm, o, w, nm, nu FROM j, tot WHERE w IS NOT NULL
            ),
            stepped AS (
              SELECT nm, nu,
                sum((o::DOUBLE - nm::DOUBLE * w::DOUBLE / 10.0)
                    * (o::DOUBLE - nm::DOUBLE * w::DOUBLE / 10.0)
                    / (nm::DOUBLE * w::DOUBLE / 10.0))
                  OVER (ORDER BY arm ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY arm) AS rn,
                count(*) OVER () AS k
              FROM cells
            )
            SELECT nm AS n, k::BIGINT AS k_arms, nu AS n_unexpected,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM stepped WHERE rn = k
        """)
def _q_srm(spark, sf_dir):
    """Sample-ratio-mismatch chi2 for the 40/30/30 assignment derived
    from user_id % 10 (functions/stats.py srm_check) — the gate every
    A/B readout (q_cuped, q_welch, q_ab_test) must pass first.
    Expected counts are exact rationals off the designed weights; the
    chi2 sum runs in fixed arm order."""

    ev = read(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 4, F.lit("a"))
        .when(F.col("user_id") % 10 < 7, F.lit("b"))
        .otherwise(F.lit("c"))
        .alias("arm")
    )
    return srm_check(ev, "arm", {"a": 4, "b": 3, "c": 3})


@query(oracle="""
            WITH daily AS (
              SELECT event_type AS g, date_trunc('day', ts) AS day,
                     count(*)::BIGINT AS x
              FROM events GROUP BY event_type, date_trunc('day', ts)
            ),
            l AS (
              SELECT g, day, x,
                lag(x, 7) OVER w AS f,
                lag(x, 1) OVER w AS p,
                row_number() OVER w AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM daily WINDOW w AS (PARTITION BY g ORDER BY day)
            ),
            s AS (
              SELECT g, x, f, p, rn, k,
                sum(CASE WHEN f IS NOT NULL AND (abs(x) + abs(f)) > 0
                    THEN 2.0 * abs(x - f)::DOUBLE
                         / (abs(x) + abs(f))::DOUBLE
                    ELSE 0.0 END)
                  OVER (PARTITION BY g ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ss,
                sum(CASE WHEN f IS NOT NULL AND x <> 0
                    THEN abs(x - f)::DOUBLE / abs(x)::DOUBLE
                    ELSE 0.0 END)
                  OVER (PARTITION BY g ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sm
              FROM l
            ),
            a AS (
              SELECT g,
                max(k)::BIGINT AS n,
                sum(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_eval,
                sum(CASE WHEN f IS NOT NULL THEN abs(x - f)
                    END)::BIGINT AS sae,
                sum(CASE WHEN f IS NOT NULL
                    THEN (x - f) * (x - f) END)::BIGINT AS sse,
                sum(CASE WHEN f IS NOT NULL THEN
                      CASE WHEN x - f >= 0 THEN 9 * (x - f)
                           ELSE -(x - f) END
                    END)::BIGINT AS spin,
                sum(CASE WHEN x <> 0 AND f IS NOT NULL THEN 1 ELSE 0
                    END)::BIGINT AS n_mape,
                sum(CASE WHEN p IS NOT NULL THEN abs(x - p)
                    END)::BIGINT AS snv,
                sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_nv,
                max(CASE WHEN rn = k THEN ss END) AS smape_sum,
                max(CASE WHEN rn = k THEN sm END) AS mape_sum
              FROM s GROUP BY g
            )
            SELECT g AS event_type, n, n_eval,
              floor(sae::DOUBLE / n_eval::DOUBLE / 1.0 * 1e6) / 1e6
                AS mae_q6,
              floor(sqrt(sse::DOUBLE / n_eval::DOUBLE) / 1.0 * 1e6)
                / 1e6 AS rmse_q6,
              floor(smape_sum / n_eval::DOUBLE * 1e6) / 1e6
                AS smape_q6,
              CASE WHEN n_mape > 0 THEN
                floor(mape_sum / n_mape::DOUBLE * 1e6) / 1e6
              END AS mape_q6,
              CASE WHEN snv > 0 THEN
                floor((sae::DOUBLE / n_eval::DOUBLE)
                      / (snv::DOUBLE / n_nv::DOUBLE) * 1e6) / 1e6
              END AS mase_q6,
              floor(spin::DOUBLE / (10.0 * n_eval::DOUBLE) / 1.0 * 1e6)
                / 1e6 AS pinball90_q6
            FROM a WHERE n_eval > 0
        """)
def _q_forecast_accuracy(spark, sf_dir):
    """Seasonal-naive forecast scorecard per event type
    (functions/stats.py forecast_accuracy): MAE/RMSE/sMAPE/MAPE/MASE/
    pinball(0.9) of 'repeat last week' on the daily event-count
    series — the baseline every forecasting claim must beat. Integer
    daily counts make all but the percentage metrics BIGINT-exact;
    sMAPE/MAPE fold through the stepped day-ordered window."""

    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return forecast_accuracy(
        daily, ("event_type",), ("day",), "cnt", season=7, quantize=0
    )


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
            WITH pre AS (
              SELECT event_type AS g,
                CAST(round(value * 100, 0) AS BIGINT) AS x,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) - 1 AS t
              FROM events WHERE value IS NOT NULL
            ),
            pm AS (
              SELECT g, x, m, t // m AS b, t % m + 1 AS j
              FROM pre, (SELECT unnest([8, 16, 32, 64]) AS m)
            ),
            r_ AS (
              SELECT g, m, b, j,
                sum(x) OVER (PARTITION BY g, m, b ORDER BY j
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cx,
                sum(x) OVER (PARTITION BY g, m, b) AS sx,
                sum(x * x) OVER (PARTITION BY g, m, b) AS sxx,
                count(*) OVER (PARTITION BY g, m, b) AS cnt
              FROM pm
            ),
            complete AS (SELECT * FROM r_ WHERE cnt = m),
            blocks AS (
              SELECT g, m, b,
                max(cx::DOUBLE - j::DOUBLE * sx::DOUBLE / m::DOUBLE)
                  AS smax,
                min(cx::DOUBLE - j::DOUBLE * sx::DOUBLE / m::DOUBLE)
                  AS smin,
                max(sx)::BIGINT AS bsx, max(sxx)::BIGINT AS bsxx
              FROM complete GROUP BY g, m, b
            ),
            rs AS (
              SELECT g, m, b,
                (smax - smin)
                  / sqrt(bsxx::DOUBLE / m::DOUBLE
                         - (bsx::DOUBLE / m::DOUBLE)
                           * (bsx::DOUBLE / m::DOUBLE)) AS rsv
              FROM blocks
              WHERE bsxx::DOUBLE / m::DOUBLE
                    - (bsx::DOUBLE / m::DOUBLE)
                      * (bsx::DOUBLE / m::DOUBLE) > 0
            ),
            stepped AS (
              SELECT g, m,
                sum(rsv) OVER (PARTITION BY g, m ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS srs,
                row_number() OVER (PARTITION BY g, m ORDER BY b) AS rn,
                count(*) OVER (PARTITION BY g, m) AS nb
              FROM rs
            ),
            per_m AS (
              SELECT g, m, nb::BIGINT AS n_blocks,
                     srs / nb::DOUBLE AS rs_mean
              FROM stepped WHERE rn = nb
            ),
            fitted AS (
              SELECT g, m, n_blocks, rs_mean,
                sum(ln(m::DOUBLE)) OVER w AS sx2,
                sum(ln(rs_mean)) OVER w AS sy,
                sum(ln(m::DOUBLE) * ln(rs_mean)) OVER w AS sxy,
                sum(ln(m::DOUBLE) * ln(m::DOUBLE)) OVER w AS sxx2,
                row_number() OVER (PARTITION BY g ORDER BY m) AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM per_m
              WINDOW w AS (PARTITION BY g ORDER BY m
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            h AS (
              SELECT g,
                CASE WHEN k >= 2 THEN
                  (k::DOUBLE * sxy - sx2 * sy)
                    / (k::DOUBLE * sxx2 - sx2 * sx2)
                END AS hh
              FROM fitted WHERE rn = k
            )
            SELECT per_m.g AS event_type, m AS block_m, n_blocks,
              floor(rs_mean * 1e6) / 1e6 AS rs_mean_q6,
              floor(hh * 1e6) / 1e6 AS hurst_q6
            FROM per_m JOIN h ON per_m.g = h.g
        """)
def _q_hurst(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis of the per-type value
    series (functions/stats.py hurst_rs), block sizes 8-64 — the
    long-range-dependence probe beyond q_autocorr's fixed lag.
    Block partial sums are BIGINT; R, the block means and the K-point
    log-log OLS all fold through stepped ordered windows."""

    ev = read(spark, sf_dir, "events")
    return hurst_rs(
        ev, ("event_type",), ("ts", "event_id"), "value",
        block_sizes=(8, 16, 32, 64), quantize=2,
    )


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
            scal AS (
              SELECT sum(r2 * r2)::BIGINT AS a4,
                     count(DISTINCT subj)::BIGINT AS n_subj,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            per_trt AS (
              SELECT trt, sum(r2)::BIGINT AS r2_sum
              FROM ranked GROUP BY trt
            ),
            s AS (
              SELECT sum((r2_sum - n_subj * (k + 1))
                         * (r2_sum - n_subj * (k + 1)))::BIGINT AS s4,
                     max(a4) AS a4,
                     max(n_subj) AS n_subjects,
                     max(k) AS k
              FROM per_trt, scal
            ),
            q AS (
              SELECT n_subjects, k,
                CASE WHEN a4 > n_subjects * k * (k + 1) * (k + 1) THEN
                  floor((k - 1)::DOUBLE * s4::DOUBLE
                        / (a4 - n_subjects * k * (k + 1)
                           * (k + 1))::DOUBLE * 1e6) / 1e6
                END AS q_q6
              FROM s
            )
            SELECT n_subjects, k, q_q6,
              CASE WHEN q_q6 IS NOT NULL AND k > 1 THEN
                floor(q_q6 / (n_subjects::DOUBLE * (k - 1)::DOUBLE)
                      * 1e6) / 1e6
              END AS w_q6
            FROM q
        """)
def _q_kendalls_w(spark, sf_dir):
    """Kendall's W concordance over q_friedman's spend blocks
    (functions/stats.py kendalls_w): the agreement EFFECT SIZE next
    to Friedman's significance — W derived from the emitted Q in the
    same two-step on both engines, so the division is exact by
    construction."""

    o = read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return kendalls_w(blocks, "subj", "trt", "spend", quantize=0)


@query(oracle="""
            WITH base AS (
              SELECT c_mktsegment AS g,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            mom AS (
              SELECT g, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
                sum(v * v)::BIGINT AS ss
              FROM base GROUP BY g
            ),
            dev AS (
              SELECT base.g, n, v,
                abs(v::DOUBLE - s::DOUBLE / n::DOUBLE) AS d,
                (ss::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE))
                  / (n::DOUBLE - 1.0) AS var
              FROM base JOIN mom ON base.g = mom.g
            ),
            pick AS (
              SELECT g, n, v, d, var,
                row_number() OVER (PARTITION BY g
                                   ORDER BY d DESC, v DESC) AS rn
              FROM dev
            )
            SELECT g AS c_mktsegment, n,
              v::DOUBLE / 100.0 AS outlier_value_q,
              CASE WHEN var > 0 THEN
                floor(d / sqrt(var) * 1e6) / 1e6
              END AS g_q6
            FROM pick WHERE rn = 1
        """)
def _q_grubbs(spark, sf_dir):
    """Grubbs' max-studentized-deviate outlier screen on account
    balance per market segment (functions/stats.py grubbs_test):
    integer moments, order-independent max over one per-row float,
    (deviation, value) struct-max argmax with value tie-break."""

    c = read(spark, sf_dir, "customer")
    return grubbs_test(c, "c_acctbal", ("c_mktsegment",), quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
                AND c_acctbal IS NOT NULL
            ),
            agg AS (
              SELECT sum(s)::BIGINT AS n_a,
                sum(1 - s)::BIGINT AS n_b,
                sum(s * v)::BIGINT AS sa,
                sum((1 - s) * v)::BIGINT AS sb,
                sum(CAST(s * v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ssa,
                sum(CAST((1 - s) * v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ssb
              FROM base
            ),
            m AS (
              SELECT n_a, n_b,
                n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                sa::DOUBLE / n_a::DOUBLE AS ma,
                sb::DOUBLE / n_b::DOUBLE AS mb,
                (ssa::DOUBLE - sa::DOUBLE
                   * (sa::DOUBLE / n_a::DOUBLE))
                  / (n_a::DOUBLE - 1.0) AS va,
                (ssb::DOUBLE - sb::DOUBLE
                   * (sb::DOUBLE / n_b::DOUBLE))
                  / (n_b::DOUBLE - 1.0) AS vb
              FROM agg
            ),
            m2 AS (
              SELECT n_a, n_b, na, nb, ma, mb, vb,
                ((na - 1.0) * va + (nb - 1.0) * vb)
                  / (na + nb - 2.0) AS sp2
              FROM m
            )
            SELECT n_a, n_b,
              floor((ma - mb) / 100.0 * 1e6) / 1e6 AS mean_diff_q,
              CASE WHEN sp2 > 0 THEN
                floor((ma - mb) / sqrt(sp2) * 1e6) / 1e6
              END AS d_q6,
              CASE WHEN sp2 > 0 THEN
                floor((ma - mb) / sqrt(sp2)
                      * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)) * 1e6)
                  / 1e6
              END AS g_q6,
              CASE WHEN vb > 0 THEN
                floor((ma - mb) / sqrt(vb) * 1e6) / 1e6
              END AS glass_q6
            FROM m2
        """)
def _q_effect_sizes(spark, sf_dir):
    """Cohen's d / Hedges' g / Glass's delta for BUILDING vs
    MACHINERY account balances (functions/stats.py effect_sizes) —
    the magnitude companion to q_welch's significance. Integer
    moments in one combinable aggregate; scale-invariant."""

    c = read(spark, sf_dir, "customer")
    return effect_sizes(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH base AS (
              SELECT
                CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
                CAST(round(l_quantity * 100, 0) AS BIGINT) AS y,
                CAST(round(l_discount * 100, 0) AS BIGINT) AS z
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(z)::BIGINT AS sz,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS syy,
                sum(CAST(z AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS szz,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS sxy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS sxz,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS syz
              FROM base
            ),
            c AS (
              SELECT n,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
                  AS cxx,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cyy,
                szz::DOUBLE - sz::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS czz,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cxy,
                sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS cxz,
                syz::DOUBLE - sy::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS cyz
              FROM agg
            ),
            r AS (
              SELECT n, cxx, cyy, czz,
                cxy / sqrt(cxx * cyy) AS rxy,
                cxz / sqrt(cxx * czz) AS rxz,
                cyz / sqrt(cyy * czz) AS ryz
              FROM c
            ),
            p AS (
              SELECT n, cxx, cyy, czz, rxy, rxz, ryz,
                sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS den
              FROM r
            )
            SELECT n,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(rxy * 1e6) / 1e6 END AS r_xy_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(rxz * 1e6) / 1e6 END AS r_xz_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(ryz * 1e6) / 1e6 END AS r_yz_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 AND den > 0
              THEN
                floor((rxy - rxz * ryz) / den * 1e6) / 1e6
              END AS partial_q6
            FROM p
        """)
def _q_partial_corr(spark, sf_dir):
    """Partial correlation of extended price and quantity controlling
    for discount (functions/stats.py partial_corr) — does the
    price-quantity association survive removing the discount channel?
    Nine DECIMAL(38,0) moments in one aggregate; the three Pearson
    r's and the partial are fixed float expressions."""

    li = read(spark, sf_dir, "lineitem")
    return partial_corr(
        li, "l_extendedprice", "l_quantity", "l_discount", quantize=2
    )


@query(oracle="""
            WITH fy AS (
              SELECT source AS f, lang AS y, count(*)::BIGINT AS c
              FROM documents
              WHERE source IS NOT NULL AND lang IS NOT NULL
              GROUP BY source, lang
            ),
            per_f AS (
              SELECT f, sum(c)::BIGINT AS nf,
                     sum(c * c)::BIGINT AS cf2
              FROM fy GROUP BY f
            ),
            per_y AS (SELECT y, sum(c)::BIGINT AS ny FROM fy GROUP BY y),
            tot AS (SELECT sum(c)::BIGINT AS n FROM fy),
            ys AS (
              SELECT count(*)::BIGINT AS k_labels,
                     sum(ny * ny)::BIGINT AS sy2,
                     max(n) AS n
              FROM per_y, tot
            ),
            stepped AS (
              SELECT
                sum(cf2::DOUBLE / nf::DOUBLE)
                  OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sc,
                row_number() OVER (ORDER BY f) AS rn,
                count(*) OVER () AS k
              FROM per_f
            ),
            fsum AS (
              SELECT k::BIGINT AS k_features, sc
              FROM stepped WHERE rn = k
            )
            SELECT n, k_features, k_labels,
              floor((1.0 - sy2::DOUBLE / (n::DOUBLE * n::DOUBLE))
                    * 1e6) / 1e6 AS gini_parent_q6,
              floor((1.0 - sc / n::DOUBLE) * 1e6) / 1e6
                AS gini_split_q6,
              floor(((1.0 - sy2::DOUBLE / (n::DOUBLE * n::DOUBLE))
                     - (1.0 - sc / n::DOUBLE)) * 1e6) / 1e6
                AS gain_q6
            FROM ys, fsum
        """)
def _q_gini_gain(spark, sf_dir):
    """CART split score of source -> lang on documents
    (functions/stats.py gini_gain): Gini impurity drop from splitting
    the label by the feature — the no-logarithm sibling of
    q_cond_entropy's information gain; contingency counts only."""

    d = read(spark, sf_dir, "documents")
    return gini_gain(d, "source", "lang")


@query(oracle="""
            WITH agg AS (
              SELECT
                sum(CASE WHEN user_id % 2 = 0
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END)::BIGINT AS a,
                sum(CASE WHEN user_id % 2 = 0
                         AND NOT (event_type = 'purchase')
                    THEN 1 ELSE 0 END)::BIGINT AS b,
                sum(CASE WHEN NOT (user_id % 2 = 0)
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END)::BIGINT AS c,
                sum(CASE WHEN NOT (user_id % 2 = 0)
                         AND NOT (event_type = 'purchase')
                    THEN 1 ELSE 0 END)::BIGINT AS d
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ),
            f AS (
              SELECT a, b, c, d, a::DOUBLE AS ad, b::DOUBLE AS bd,
                     c::DOUBLE AS cd, d::DOUBLE AS dd
              FROM agg
            ),
            m AS (
              SELECT a, b, c, d,
                (ad / (ad + bd)) / (cd / (cd + dd)) AS rr,
                sqrt(1.0 / ad - 1.0 / (ad + bd) + 1.0 / cd
                     - 1.0 / (cd + dd)) AS serr,
                ad * dd / (bd * cd) AS orr,
                sqrt(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)
                  AS seor
              FROM f
            )
            SELECT a, b, c, d,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(rr * 1e6) / 1e6 END AS rr_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(rr) - 1.96 * serr) * 1e6) / 1e6
              END AS rr_lo_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(rr) + 1.96 * serr) * 1e6) / 1e6
              END AS rr_hi_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(orr * 1e6) / 1e6 END AS or_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(orr) - 1.96 * seor) * 1e6) / 1e6
              END AS or_lo_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(orr) + 1.96 * seor) * 1e6) / 1e6
              END AS or_hi_q6
            FROM m
        """)
def _q_risk_ratios(spark, sf_dir):
    """2x2 relative-risk / odds-ratio card with 95% log CIs
    (functions/stats.py risk_ratios): does even-user traffic purchase
    more — the per-stratum read q_mantel_haenszel pools. Four BIGINT
    cells from one aggregate; Katz/Woolf intervals as fixed float
    expressions."""

    ev = read(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("exposed"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return risk_ratios(ev, "exposed", "converted")


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
            rng AS (
              SELECT subj, (max(v) - min(v))::BIGINT AS vrange
              FROM cells GROUP BY subj
            ),
            q2 AS (
              SELECT subj,
                     (2 * rank() OVER (ORDER BY vrange)
                      + count(*) OVER (PARTITION BY vrange)
                      - 1)::BIGINT AS q2
              FROM rng
            ),
            scal AS (
              SELECT count(DISTINCT subj)::BIGINT AS n_blocks,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            s4 AS (
              SELECT trt, n_blocks, k,
                     q2 * (r2 - (k + 1)) AS s4
              FROM ranked JOIN q2 USING (subj), scal
            ),
            per_trt AS (
              SELECT trt, sum(s4)::BIGINT AS t,
                     sum(s4 * s4)::BIGINT AS aa,
                     max(n_blocks) AS n_blocks, max(k) AS k
              FROM s4 GROUP BY trt
            ),
            fin AS (
              SELECT sum(t * t)::BIGINT AS st2,
                     sum(aa)::BIGINT AS a16,
                     max(n_blocks) AS n_blocks, max(k) AS k
              FROM per_trt
            )
            SELECT n_blocks, k,
              CASE WHEN a16::DOUBLE
                        > st2::DOUBLE / n_blocks::DOUBLE THEN
                floor((n_blocks::DOUBLE - 1.0)
                      * (st2::DOUBLE / n_blocks::DOUBLE)
                      / (a16::DOUBLE
                         - st2::DOUBLE / n_blocks::DOUBLE) * 1e6)
                  / 1e6
              END AS f_q6
            FROM fin
        """)
def _q_quade(spark, sf_dir):
    """Quade range-weighted blocked rank test over q_friedman's spend
    blocks (functions/stats.py quade_test): blocks with bigger spread
    vote harder. Double-doubled integer construction (S4 = Q2 *
    (r2 - (k+1))); the 16s cancel in F."""

    o = read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return quade_test(blocks, "subj", "trt", "spend", quantize=0)


@query(oracle="""
            WITH daily AS (
              SELECT event_type AS g, date_trunc('day', ts) AS day,
                     count(*)::BIGINT AS x
              FROM events GROUP BY event_type, date_trunc('day', ts)
            ),
            pre AS (
              SELECT g, x,
                row_number() OVER (PARTITION BY g ORDER BY day) AS t
              FROM daily
            ),
            r_ AS (
              SELECT g, x, t, ((t - 1) % 7)::INTEGER AS ph,
                CASE WHEN count(*) OVER w7 = 7 THEN
                  (sum(x) OVER w7)::DOUBLE / 7.0 END AS trend
              FROM pre
              WINDOW w7 AS (PARTITION BY g ORDER BY t
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ),
            comp AS (
              SELECT g, x, t, ph, x::DOUBLE - trend AS d
              FROM r_ WHERE trend IS NOT NULL
            ),
            ph_step AS (
              SELECT g, ph,
                sum(d) OVER (PARTITION BY g, ph ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sd,
                row_number() OVER (PARTITION BY g, ph ORDER BY t)
                  AS rn,
                count(*) OVER (PARTITION BY g, ph) AS np
              FROM comp
            ),
            s_raw AS (
              SELECT g, ph, sd / np::DOUBLE AS sraw
              FROM ph_step WHERE rn = np
            ),
            s_step AS (
              SELECT g, ph, sraw,
                sum(sraw) OVER (PARTITION BY g ORDER BY ph
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cs,
                row_number() OVER (PARTITION BY g ORDER BY ph) AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM s_raw
            ),
            s_mean AS (
              SELECT g, cs / k::DOUBLE AS smean
              FROM s_step WHERE rn = k
            ),
            seasonal AS (
              SELECT s_raw.g AS g, ph, sraw - smean AS s
              FROM s_raw JOIN s_mean ON s_raw.g = s_mean.g
            ),
            joined AS (
              SELECT comp.g AS g, t, comp.ph AS ph, d,
                     d - s AS r, x::DOUBLE - s AS xs
              FROM comp JOIN seasonal
                ON comp.g = seasonal.g AND comp.ph = seasonal.ph
            ),
            var_step AS (
              SELECT g,
                sum(d) OVER wt AS s_d, sum(d * d) OVER wt AS s_d2,
                sum(r) OVER wt AS s_r, sum(r * r) OVER wt AS s_r2,
                sum(xs) OVER wt AS s_xs,
                sum(xs * xs) OVER wt AS s_xs2,
                row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
                count(*) OVER (PARTITION BY g) AS n
              FROM joined
              WINDOW wt AS (PARTITION BY g ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
            ),
            lastr AS (SELECT * FROM var_step WHERE rn = n),
            st AS (
              SELECT g, n::BIGINT AS n_days,
                s_d2 / n::DOUBLE
                  - (s_d / n::DOUBLE) * (s_d / n::DOUBLE) AS var_d,
                s_r2 / n::DOUBLE
                  - (s_r / n::DOUBLE) * (s_r / n::DOUBLE) AS var_r,
                s_xs2 / n::DOUBLE
                  - (s_xs / n::DOUBLE) * (s_xs / n::DOUBLE) AS var_xs
              FROM lastr
            ),
            st2 AS (
              SELECT g, n_days,
                CASE WHEN var_d > 0 THEN
                  greatest(0.0, 1.0 - var_r / var_d) END AS fs,
                CASE WHEN var_xs > 0 THEN
                  greatest(0.0, 1.0 - var_r / var_xs) END AS ft
              FROM st
            )
            SELECT seasonal.g AS event_type, ph AS phase, n_days,
              floor(s * 1e6) / 1e6 AS seasonal_q6,
              CASE WHEN ft IS NOT NULL THEN floor(ft * 1e6) / 1e6
                END AS f_trend_q6,
              CASE WHEN fs IS NOT NULL THEN floor(fs * 1e6) / 1e6
                END AS f_seasonal_q6
            FROM seasonal JOIN st2 ON seasonal.g = st2.g
        """)
def _q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of the daily event-count
    series per type (functions/stats.py seasonal_decompose): centered
    7-MA trend, positional-phase seasonal indices, and the Hyndman
    trend/seasonal strengths that say whether q_forecast_accuracy's
    seasonal-naive baseline is even apt. All cross-row float
    reductions fold through stepped ordered windows."""

    ev = read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return seasonal_decompose(
        daily, ("event_type",), ("day",), "cnt", period=7, quantize=0
    )


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
              SELECT v, ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo,
                sum(ca + cb) OVER () AS nn
              FROM cnt
            ),
            cells AS (
              SELECT v, ca, cb, ca + cb AS c, nn,
                lo + 1 AS a, lo + ca + cb AS b, nn + 1 AS m,
                (nn + 1) // 2 AS h
              FROM cum
            ),
            bs AS (
              SELECT v, ca, cb, c, nn,
                (CASE WHEN least(b, h) >= a THEN
                   (least(b, h) - a + 1) * (a + least(b, h)) // 2
                 ELSE 0 END)
                + (CASE WHEN b >= greatest(a, h + 1) THEN
                     (b - greatest(a, h + 1) + 1) * m
                     - (b - greatest(a, h + 1) + 1)
                       * (greatest(a, h + 1) + b) // 2
                   ELSE 0 END) AS bsum
              FROM cells
            ),
            stepped AS (
              SELECT nn,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b,
                sum(bsum) OVER ()::BIGINT AS s1,
                sum(ca::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ab,
                sum(bsum::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s2,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM bs
            ),
            lastr AS (SELECT * FROM stepped WHERE rn = k)
            SELECT n_a, n_b,
              floor(ab * 1e6) / 1e6 AS ab_q6,
              CASE WHEN n_a::DOUBLE * n_b::DOUBLE
                        * (nn::DOUBLE * s2 - s1::DOUBLE * s1::DOUBLE)
                        / (nn::DOUBLE * nn::DOUBLE
                           * (nn::DOUBLE - 1.0)) > 0 THEN
                floor((ab - n_a::DOUBLE * s1::DOUBLE / nn::DOUBLE)
                      / sqrt(n_a::DOUBLE * n_b::DOUBLE
                             * (nn::DOUBLE * s2
                                - s1::DOUBLE * s1::DOUBLE)
                             / (nn::DOUBLE * nn::DOUBLE
                                * (nn::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS z_q6
            FROM lastr
        """)
def _q_ansari(spark, sf_dir):
    """Ansari-Bradley scale test on account balance, BUILDING vs
    MACHINERY (functions/stats.py ansari_bradley): rank-based
    dispersion with R-style tie-averaged scores; block score sums
    have a closed integer form off the distinct-value table, AB and
    its tie-corrected moments fold in fixed value order."""

    c = read(spark, sf_dir, "customer")
    return ansari_bradley(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s
              FROM documents WHERE lang IN ('en', 'de')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                coalesce(sum(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cua,
                coalesce(sum(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cub,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b
              FROM cnt
            ),
            cells AS (
              SELECT v, n_a, n_b,
                ca + cb AS l, n_a + n_b AS nn,
                (n_a + n_b) * (2 * cua + ca)
                  - n_a * (2 * (cua + cub) + ca + cb) AS ra,
                (n_a + n_b) * (2 * cub + cb)
                  - n_b * (2 * (cua + cub) + ca + cb) AS rb,
                (2 * (cua + cub) + ca + cb)
                  * (2 * (n_a + n_b) - (2 * (cua + cub) + ca + cb))
                  - (n_a + n_b) * (ca + cb) AS den
              FROM cum
            ),
            terms AS (
              SELECT v, n_a, n_b, nn,
                l::DOUBLE / nn::DOUBLE
                * (CASE WHEN den <> 0 THEN
                     ra::DOUBLE * ra::DOUBLE
                     / (n_a::DOUBLE * den::DOUBLE)
                   END
                   + CASE WHEN den <> 0 THEN
                       rb::DOUBLE * rb::DOUBLE
                       / (n_b::DOUBLE * den::DOUBLE)
                     END) AS t
              FROM cells
            ),
            stepped AS (
              SELECT n_a, n_b, nn,
                sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS t,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT n_a, n_b,
              CASE WHEN k > 1 AND n_a > 0 AND n_b > 0 THEN
                floor((nn::DOUBLE - 1.0) / nn::DOUBLE * t * 1e6) / 1e6
              END AS a2_q6
            FROM stepped WHERE rn = k
        """)
def _q_anderson_darling(spark, sf_dir):
    """Two-sample Anderson-Darling (functions/stats.py
    anderson_darling_2s, the Scholz-Stephens midrank A2akN): do EN and
    DE document lengths share a distribution, with the tails weighted
    where q_ks_drift is weakest? Doubled-integer midrank counts off
    the distinct-value table; per-value integer-ratio terms fold in
    fixed value order."""

    d = read(spark, sf_dir, "documents")
    return anderson_darling_2s(
        d, "n_chars", "lang", "en", "de", quantize=0
    )


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
              SELECT v, ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo,
                sum(ca + cb) OVER () AS nn
              FROM cnt
            ),
            cells AS (
              SELECT v, ca, cb, ca + cb AS c, nn,
                lo + 1 AS a, lo + ca + cb AS b,
                nn // 2 AS h
              FROM cum
            ),
            segs AS (
              SELECT v, ca, cb, c, nn, a, b, h,
                least(b, h) AS yb,
                nn - b + 1 AS qlo,
                least(nn - a + 1, h) AS qhi
              FROM cells
            ),
            bs AS (
              SELECT v, ca, cb, c, nn,
                -- bottom: 2*tri(a, yb) - odds(a, yb)
                (CASE WHEN yb >= a THEN
                   2 * (CASE WHEN (yb - a + 1) % 2 = 0 THEN
                          ((yb - a + 1) // 2) * (a + yb)
                        ELSE (yb - a + 1) * ((a + yb) // 2) END)
                   - ((yb + 1) // 2 - a // 2)
                 ELSE 0 END)
                -- middle: odd N, position h+1 scores N
                + (CASE WHEN nn % 2 = 1 AND a <= h + 1 AND b >= h + 1
                   THEN nn ELSE 0 END)
                -- top: 2*tri(qlo, qhi) - evens(qlo, qhi)
                + (CASE WHEN qhi >= qlo THEN
                     2 * (CASE WHEN (qhi - qlo + 1) % 2 = 0 THEN
                            ((qhi - qlo + 1) // 2) * (qlo + qhi)
                          ELSE (qhi - qlo + 1) * ((qlo + qhi) // 2)
                          END)
                     - (qhi // 2 - (qlo - 1) // 2)
                   ELSE 0 END) AS bsum
              FROM segs
            ),
            stepped AS (
              SELECT nn,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b,
                sum(bsum) OVER ()::BIGINT AS s1,
                sum(ca::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS st,
                sum(bsum::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s2,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM bs
            ),
            lastr AS (SELECT * FROM stepped WHERE rn = k)
            SELECT n_a, n_b,
              floor(st * 1e6) / 1e6 AS st_q6,
              CASE WHEN n_a::DOUBLE * n_b::DOUBLE
                        * (nn::DOUBLE * s2 - s1::DOUBLE * s1::DOUBLE)
                        / (nn::DOUBLE * nn::DOUBLE
                           * (nn::DOUBLE - 1.0)) > 0 THEN
                floor((st - n_a::DOUBLE * s1::DOUBLE / nn::DOUBLE)
                      / sqrt(n_a::DOUBLE * n_b::DOUBLE
                             * (nn::DOUBLE * s2
                                - s1::DOUBLE * s1::DOUBLE)
                             / (nn::DOUBLE * nn::DOUBLE
                                * (nn::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS z_q6
            FROM lastr
        """)
def _q_siegel_tukey(spark, sf_dir):
    """Siegel-Tukey scale test on account balance, BUILDING vs
    MACHINERY (functions/stats.py siegel_tukey) — the zigzag-score
    dispersion companion to q_ansari on the SAME arms, so the two
    scale tests corroborate each other in one artifact. Closed-form
    block score sums (series +- parity counts) off the distinct-value
    table; Wilcoxon moments with tie correction."""

    c = read(spark, sf_dir, "customer")
    return siegel_tukey(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle="""
            WITH per_user AS (
              SELECT event_type, user_id, count(*)::BIGINT AS c
              FROM events GROUP BY event_type, user_id
            ),
            agg AS (
              SELECT event_type, count(*)::BIGINT AS n,
                sum(c)::BIGINT AS s,
                sum(CAST(c AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS q
              FROM per_user GROUP BY event_type
            ),
            terms AS (
              SELECT event_type, n, s,
                s::DOUBLE / n::DOUBLE AS mean,
                (q::DOUBLE - (s::DOUBLE / n::DOUBLE) * s::DOUBLE)
                  / (n::DOUBLE - 1.0) AS var
              FROM agg
            )
            SELECT event_type, n,
              CASE WHEN n > 0 THEN floor(mean * 1e6) / 1e6
              END AS mean_q6,
              CASE WHEN n > 1 AND s > 0 THEN
                floor(var / mean * 1e6) / 1e6 END AS vmr_q6,
              CASE WHEN n > 1 AND s > 0 THEN
                floor(((n::DOUBLE - 1.0) * (var / mean)
                       - (n::DOUBLE - 1.0))
                      / sqrt(2.0 * (n::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS z_q6
            FROM terms
            ORDER BY event_type
        """)
def _q_overdispersion(spark, sf_dir):
    """Poisson overdispersion of per-user event counts per event type
    (functions/stats.py overdispersion_index): VMR + dispersion z off
    exact integer moments — the modeling gate before any per-user
    rate assumption."""

    ev = read(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    return overdispersion_index(
        per_user, "n_events", group_cols=("event_type",)
    ).orderBy("event_type")


@query(oracle="""
            WITH per_user AS (
              SELECT user_id, count(*)::BIGINT AS x,
                (date_diff('day', min(CAST(ts AS DATE)),
                           max(CAST(ts AS DATE))) + 1)::BIGINT AS t
              FROM events GROUP BY user_id
            ),
            arms AS (
              SELECT x, t, CAST(user_id % 2 AS INT) AS g
              FROM per_user
            ),
            gm AS (SELECT min(g) AS ga FROM arms),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN x ELSE 0 END)::BIGINT AS x_a,
                sum(CASE WHEN g = ga THEN 0 ELSE x END)::BIGINT AS x_b,
                sum(CASE WHEN g = ga THEN t ELSE 0 END)::BIGINT AS t_a,
                sum(CASE WHEN g = ga THEN 0 ELSE t END)::BIGINT AS t_b
              FROM arms, gm
            ),
            rates AS (
              SELECT x_a, x_b, t_a, t_b,
                x_a::DOUBLE / (t_a::DOUBLE / 1.0) AS ra,
                x_b::DOUBLE / (t_b::DOUBLE / 1.0) AS rb
              FROM agg
            )
            SELECT x_a, x_b,
              CASE WHEN t_a > 0 THEN floor(ra * 1e6) / 1e6
              END AS rate_a_q6,
              CASE WHEN t_b > 0 THEN floor(rb * 1e6) / 1e6
              END AS rate_b_q6,
              CASE WHEN x_a > 0 AND x_b > 0 AND t_a > 0 AND t_b > 0
              THEN floor(ra / rb * 1e6) / 1e6 END AS rr_q6,
              CASE WHEN x_a > 0 AND x_b > 0 AND t_a > 0 AND t_b > 0
              THEN floor(ln(ra / rb)
                         / sqrt(1.0 / x_a::DOUBLE
                                + 1.0 / x_b::DOUBLE) * 1e6) / 1e6
              END AS z_q6
            FROM rates
        """)
def _q_rate_ratio(spark, sf_dir):
    """Poisson rate ratio of events per observed day, even- vs
    odd-user arms (functions/stats.py poisson_rate_ratio): per-user
    (events, exposure-days) rows aggregated to exact arm totals, the
    exposure-aware rate comparison q_welch (means) and
    q_overdispersion (clumping) bracket."""

    ev = read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (
            F.datediff(
                F.max(F.to_date("ts")), F.min(F.to_date("ts"))
            )
            + 1
        )
        .cast("long")
        .alias("days"),
    )
    arms = per_user.select(
        "n_events",
        "days",
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    return poisson_rate_ratio(
        arms, "n_events", "days", "arm", quantize=0
    )


@query(oracle="""
            WITH flags AS (
              SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END::BIGINT
                       AS hi,
                     CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM flags),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN hi ELSE 0 END)::BIGINT
                  AS x_a,
                sum(CASE WHEN g = ga THEN 0 ELSE hi END)::BIGINT
                  AS x_b
              FROM flags, gm
            ),
            t AS (
              SELECT n_a, n_b, x_a, x_b,
                x_a::DOUBLE / n_a::DOUBLE AS pa,
                x_b::DOUBLE / n_b::DOUBLE AS pb,
                1.959964 * 1.959964 AS z2,
                1.959964 AS zc
              FROM agg
            ),
            w AS (
              SELECT *,
                (pa * n_a::DOUBLE + z2 / 2.0) / (n_a::DOUBLE + z2)
                  AS ca,
                zc * sqrt(pa * (1.0 - pa) / n_a::DOUBLE
                          + z2 / (4.0 * n_a::DOUBLE * n_a::DOUBLE))
                  / (1.0 + z2 / n_a::DOUBLE) AS ha,
                (pb * n_b::DOUBLE + z2 / 2.0) / (n_b::DOUBLE + z2)
                  AS cb,
                zc * sqrt(pb * (1.0 - pb) / n_b::DOUBLE
                          + z2 / (4.0 * n_b::DOUBLE * n_b::DOUBLE))
                  / (1.0 + z2 / n_b::DOUBLE) AS hb,
                (x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp
              FROM t
            ),
            fin AS (
              SELECT n_a, n_b, x_a, x_b, pa, pb,
                pa - pb AS d,
                ca - ha AS la, ca + ha AS ua,
                cb - hb AS lb, cb + hb AS ub,
                sqrt(pp * (1.0 - pp)
                     * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) AS se
              FROM w
            )
            SELECT n_a, n_b, x_a, x_b,
              floor(pa * 1e6) / 1e6 AS p_a_q6,
              floor(pb * 1e6) / 1e6 AS p_b_q6,
              floor(d * 1e6) / 1e6 AS diff_q6,
              CASE WHEN se > 0 THEN floor(d / se * 1e6) / 1e6
              END AS z_q6,
              floor((d - sqrt((pa - la) * (pa - la)
                              + (ub - pb) * (ub - pb))) * 1e6) / 1e6
                AS ci_lo_q6,
              floor((d + sqrt((ua - pa) * (ua - pa)
                              + (pb - lb) * (pb - lb))) * 1e6) / 1e6
                AS ci_hi_q6
            FROM fin
        """)
def _q_two_proportion(spark, sf_dir):
    """Two-proportion card on high-value event rates, even- vs
    odd-user arms (functions/stats.py two_proportion_diff): pooled z
    plus the Newcombe hybrid-score CI built from each arm's Wilson
    bounds — the binary-outcome companion to q_welch/q_msprt on the
    same arm split."""

    ev = read(spark, sf_dir, "events")
    flags = ev.select(
        (F.col("value") > 50).cast("long").alias("hi"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    return two_proportion_diff(flags, "hi", "arm")


@query(oracle="""
            WITH g AS (
              SELECT
                CASE WHEN n_chars < 200 THEN 1
                     WHEN n_chars < 500 THEN 2
                     WHEN n_chars < 1000 THEN 3 ELSE 4 END AS xb,
                CASE WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 30 THEN 1
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 80 THEN 2
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 160 THEN 3
                     ELSE 4 END AS yb
              FROM documents
            ),
            cells AS (
              SELECT xb AS x, yb AS y, count(*)::BIGINT AS c
              FROM g GROUP BY xb, yb
            ),
            agg AS (
              SELECT
                coalesce(sum(CASE WHEN b.x > a.x AND b.y > a.y
                    THEN a.c * b.c END), 0)::BIGINT AS c_pairs,
                coalesce(sum(CASE WHEN b.x > a.x AND b.y < a.y
                    THEN a.c * b.c END), 0)::BIGINT AS d_pairs,
                coalesce(sum(CASE WHEN b.x = a.x AND b.y > a.y
                    THEN a.c * b.c END), 0)::BIGINT AS tx,
                coalesce(sum(CASE WHEN b.y = a.y AND b.x > a.x
                    THEN a.c * b.c END), 0)::BIGINT AS ty
              FROM cells a CROSS JOIN cells b
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM cells)
            SELECT n, c_pairs, d_pairs,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE) * 1e6)
                  / 1e6
              END AS gamma_q6,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE
                        + ty::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + ty::DOUBLE) * 1e6) / 1e6
              END AS somers_yx_q6,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE
                        + tx::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + tx::DOUBLE) * 1e6) / 1e6
              END AS somers_xy_q6,
              CASE WHEN (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + tx::DOUBLE) > 0
                    AND (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + ty::DOUBLE) > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / sqrt((c_pairs::DOUBLE + d_pairs::DOUBLE
                              + tx::DOUBLE)
                             * (c_pairs::DOUBLE + d_pairs::DOUBLE
                                + ty::DOUBLE)) * 1e6) / 1e6
              END AS tau_b_q6
            FROM agg, tot
        """)
def _q_ordinal_assoc(spark, sf_dir):
    """Gamma / Somers' D / tau-b between document length band and
    token band (functions/stats.py ordinal_association) — the
    graded-bucket association card next to q_cramers_v (nominal) and
    q_kendall_tau (numeric). One k x k cell self-join; everything
    BIGINT until the terminal ratios."""

    d = read(spark, sf_dir, "documents")
    toks = F.size(
        tokens(F.col("text"))
    )
    band = (
        lambda c, b1, b2, b3: F.when(c < b1, 1)
        .when(c < b2, 2)
        .when(c < b3, 3)
        .otherwise(4)
    )
    g = d.select(
        band(F.col("n_chars"), 200, 500, 1000).alias("xb"),
        band(toks, 30, 80, 160).alias("yb"),
    )
    return ordinal_association(g, "xb", "yb")


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
              SELECT n_a, n_b,
                (mb - ma) / 100.0 AS theta,
                (va / n_a::DOUBLE + vb / n_b::DOUBLE) / 10000.0 AS vv
              FROM terms
            ),
            ll AS (
              SELECT n_a, n_b, theta, vv,
                0.5 * ln(vv / (vv + 25.0))
                  + (theta * theta * 25.0)
                    / ((2.0 * vv) * (vv + 25.0)) AS log_l
              FROM fin
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(theta * 1e6) / 1e6 END AS diff_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(log_l * 1e6) / 1e6 END AS log_lambda_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(least(1.0, exp(-log_l)) * 1e6) / 1e6
              END AS p_always_q6,
              CAST(CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0
                         AND least(1.0, exp(-log_l)) < 0.05
                    THEN 1 ELSE 0 END AS INT) AS reject
            FROM ll
        """)
def _q_msprt(spark, sf_dir):
    """Anytime-valid mixture-SPRT mean gate on even- vs odd-user event
    values (functions/stats.py msprt_gate) — the always-valid peeking
    companion to q_welch on the SAME arms: exact quantized moments,
    one closed-form mixture likelihood ratio, p valid at every n."""

    ev = read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return msprt_gate(ev, "value", "arm", tau=5.0, quantize=2)


@query(oracle="""
            WITH base AS (
              SELECT event_type AS g,
                CAST(round(value * 100, 0) AS BIGINT) AS v,
                ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c
              FROM base GROUP BY g, v
            ),
            dmap AS (
              SELECT g, v,
                2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS d
              FROM cnt
            ),
            j AS (
              SELECT base.g AS g, d,
                row_number() OVER (PARTITION BY base.g
                                   ORDER BY ts, event_id) AS t,
                count(*) OVER (PARTITION BY base.g) AS n
              FROM base JOIN dmap
                ON base.g = dmap.g AND base.v = dmap.v
            ),
            per_t AS (
              SELECT g, n, t,
                sum(d) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - t * (n + 1) AS u2
              FROM j
            ),
            flt AS (SELECT * FROM per_t WHERE t < n),
            pick AS (
              SELECT g, n, t, abs(u2) AS k,
                row_number() OVER (PARTITION BY g
                    ORDER BY abs(u2) DESC, t ASC) AS rn
              FROM flt
            )
            SELECT g AS event_type, n::BIGINT AS n, t AS t_star,
              k::BIGINT AS k_stat,
              floor(least(1.0,
                2.0 * exp(-6.0 * k::DOUBLE * k::DOUBLE
                          / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                             + n::DOUBLE * n::DOUBLE))) * 1e6) / 1e6
                AS p_approx_q6
            FROM pick WHERE rn = 1
        """)
def _q_pettitt(spark, sf_dir):
    """Pettitt rank change-point per event type (functions/stats.py
    pettitt_test): outlier-immune single-break detector next to
    q_changepoint's mean CUSUM and q_slope_break's trend break.
    Fully integer U_t via cumsum(doubled midranks) - t(n+1); the
    approximate p is the only float."""

    ev = read(spark, sf_dir, "events")
    return pettitt_test(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
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
            WITH base AS (
              SELECT event_type AS s, CAST(user_id % 2 AS INT) AS arm,
                     CASE WHEN value > 150 THEN 1 ELSE 0 END AS o
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
            ),
            cells AS (
              SELECT s, count(*)::BIGINT AS n,
                sum(CASE WHEN arm = 1 AND o = 1 THEN 1 ELSE 0
                    END)::BIGINT AS a,
                sum(CASE WHEN arm = 1 AND o = 0 THEN 1 ELSE 0
                    END)::BIGINT AS b,
                sum(CASE WHEN arm = 0 AND o = 1 THEN 1 ELSE 0
                    END)::BIGINT AS c,
                sum(CASE WHEN arm = 0 AND o = 0 THEN 1 ELSE 0
                    END)::BIGINT AS d
              FROM base GROUP BY s
            ),
            f AS (
              SELECT s, n,
                ln((a::DOUBLE + 0.5) * (d::DOUBLE + 0.5)
                   / ((b::DOUBLE + 0.5) * (c::DOUBLE + 0.5))) AS lnor,
                1.0 / (1.0 / (a::DOUBLE + 0.5)
                       + 1.0 / (b::DOUBLE + 0.5)
                       + 1.0 / (c::DOUBLE + 0.5)
                       + 1.0 / (d::DOUBLE + 0.5)) AS w
              FROM cells
            ),
            step1 AS (
              SELECT s, lnor, w,
                sum(w) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS sw,
                sum(w * lnor) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS swl,
                sum(n) OVER () AS ntot,
                row_number() OVER (ORDER BY s) AS rn,
                count(*) OVER () AS k
              FROM f
            ),
            pooled AS (
              SELECT swl / sw AS pool, ntot AS ntot2, k AS kk
              FROM step1 WHERE rn = k
            ),
            step2 AS (
              SELECT kk, ntot2, pool,
                sum(w * (lnor - pool) * (lnor - pool))
                  OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY s) AS rn2,
                count(*) OVER () AS k2
              FROM step1, pooled
            )
            SELECT kk::BIGINT AS k_strata, ntot2::BIGINT AS n,
              floor(exp(pool) * 1e6) / 1e6 AS pooled_or_q6,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM step2 WHERE rn2 = k2
        """)
def _q_woolf(spark, sf_dir):
    """Woolf homogeneity of odds ratios across q_mantel_haenszel's
    strata (functions/stats.py woolf_homogeneity): is there ONE
    effect, or does the pooled MH number paper over stratum
    heterogeneity? Haldane +0.5 on every cell; two fixed-order
    stepped reductions with the pooled lnOR broadcast between."""

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("value") > 150).cast("int").alias("hi"),
    )
    return woolf_homogeneity(ev, "event_type", "arm", "hi")


@query(oracle=f"""
            WITH pairs AS (
              SELECT lang AS a, {LANG_CASE} AS b
              FROM documents WHERE lang IS NOT NULL
            ),
            tot AS (SELECT count(*)::BIGINT AS n FROM pairs),
            cells AS (
              SELECT a, b, count(*)::BIGINT AS c
              FROM pairs WHERE a <> b GROUP BY a, b
            ),
            canon AS (
              SELECT least(a, b) AS i, greatest(a, b) AS j,
                sum(CASE WHEN a < b THEN c ELSE 0 END)::BIGINT AS nij,
                sum(CASE WHEN a > b THEN c ELSE 0 END)::BIGINT AS nji
              FROM cells GROUP BY least(a, b), greatest(a, b)
            ),
            stepped AS (
              SELECT n,
                sum((nij - nji)::DOUBLE * (nij - nji)::DOUBLE
                    / (nij + nji)::DOUBLE)
                  OVER (ORDER BY i, j ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY i, j) AS rn,
                count(*) OVER () AS k
              FROM canon, tot
            )
            SELECT n, k::BIGINT AS n_offdiag_pairs,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM stepped WHERE rn = k
        """)
def _q_bowker(spark, sf_dir):
    """Bowker symmetry test on the lang-vs-detector confusion
    (functions/stats.py bowker_symmetry): are the disagreements
    DIRECTIONAL — does 'fr' get read as 'es' more than the reverse?
    The drift question q_gwet's symmetric agreement can't answer,
    on the same rater pair. Integer cells; per-pair rationals folded
    in fixed pair order."""

    d = read(spark, sf_dir, "documents").select(
        F.col("lang").alias("r1"),
        lang_id(F.col("text")).alias("r2"),
    )
    return bowker_symmetry(d, "r1", "r2")


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(value * 10, 0) AS BIGINT) AS v,
                     CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END AS s
              FROM events
              WHERE event_type IN ('purchase', 'click')
                AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b
              FROM cnt
            ),
            stepped AS (
              SELECT n_a, n_b,
                sum(sqrt((ca::DOUBLE / n_a::DOUBLE)
                         * (cb::DOUBLE / n_b::DOUBLE)))
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS bc,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM cum
            )
            SELECT n_a, n_b,
              floor(bc * 1e6) / 1e6 AS bc_q6,
              floor(sqrt(greatest(0.0, 1.0 - bc)) * 1e6) / 1e6
                AS hellinger_q6
            FROM stepped WHERE rn = k
        """)
def _q_hellinger(spark, sf_dir):
    """Hellinger distance between purchase and click value
    distributions (functions/stats.py hellinger_distance) — the
    bounded overlap-everywhere distance next to q_wasserstein's
    magnitude and q_jsd_split's information reads. Exact rational
    bin masses; the BC sum folds over the distinct-value table."""

    ev = read(spark, sf_dir, "events")
    return hellinger_distance(
        ev, "value", "event_type", "purchase", "click", quantize=1
    )


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
    screen before choosing q_mann_whitney vs q_ansari. Doubled
    midranks keep both squared-rank sums integer."""

    c = read(spark, sf_dir, "customer")
    return cucconi_test(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


@query(oracle=f"""
            WITH pairs AS (
              SELECT lang AS a, {LANG_CASE} AS b
              FROM documents WHERE lang IS NOT NULL
            ),
            tot AS (
              SELECT count(*)::BIGINT AS n,
                sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT
                  AS agree
              FROM pairs
            ),
            m1 AS (SELECT a AS q, count(*)::BIGINT AS c1
                   FROM pairs GROUP BY a),
            m2 AS (SELECT b AS q, count(*)::BIGINT AS c2
                   FROM pairs GROUP BY b),
            marg AS (
              SELECT coalesce(m1.q, m2.q) AS q,
                coalesce(c1, 0) + coalesce(c2, 0) AS m
              FROM m1 FULL OUTER JOIN m2 ON m1.q = m2.q
            ),
            stepped AS (
              SELECT n, agree,
                sum((m::DOUBLE / (2.0 * n::DOUBLE))
                    * (1.0 - m::DOUBLE / (2.0 * n::DOUBLE)))
                  OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS pt,
                row_number() OVER (ORDER BY q) AS rn,
                count(*) OVER () AS k
              FROM marg, tot
            )
            SELECT n, k::BIGINT AS q_labels,
              floor(agree::DOUBLE / n::DOUBLE * 1e6) / 1e6 AS po_q6,
              CASE WHEN k > 1 THEN
                floor(pt / (k::DOUBLE - 1.0) * 1e6) / 1e6
              END AS pe_q6,
              CASE WHEN k > 1 AND pt / (k::DOUBLE - 1.0) < 1.0 THEN
                floor((agree::DOUBLE / n::DOUBLE
                       - pt / (k::DOUBLE - 1.0))
                      / (1.0 - pt / (k::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS ac1_q6
            FROM stepped WHERE rn = k
        """)
def _q_gwet(spark, sf_dir):
    """Gwet's AC1 agreement between the recorded lang label and the
    n-gram detector (functions/stats.py gwet_ac1) — the
    prevalence-robust companion to q_kappa_langid on the SAME rater
    pair; a kappa-vs-AC1 gap is the dominant-label warning. Exact
    rational po/marginals; pe folds over the label table."""

    d = read(spark, sf_dir, "documents").select(
        F.col("lang").alias("r1"),
        lang_id(F.col("text")).alias("r2"),
    )
    return gwet_ac1(d, "r1", "r2")
