"""Driver queries over ``functions/stats.py`` (statistical tests and
estimators)."""

import math as _math

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import text
from png_from_pdf_extracter_spark.functions.stats import (
    autocorr_lag1,
    benford_digits,
    bh_fdr,
    changepoint_single,
    chi2_independence,
    cochran_q,
    concordance_agreement,
    correlogram,
    cramers_v,
    cuped_adjust,
    did_estimate,
    durbin_watson,
    gini_concentration,
    group_influence,
    hill_tail_index,
    holm_bonferroni,
    inequality_indices,
    interrater_reliability,
    jackknife_group_se,
    poisson_bootstrap_ci,
    rolling_median,
    running_distinct,
    spearman_corr,
    weighted_quantile,
    winsorize,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    NTOK_SQL,
    read,
)


# exact doubles embedded in BOTH engines' expressions so no libm
# log10 call can diverge (repr round-trips the IEEE double exactly)
_BENFORD_CASE = "CASE digit " + " ".join(
    # ::DOUBLE: bare decimal literals are DECIMAL in DuckDB and the
    # chi2 products overflow DECIMAL(38); the engine must do IEEE math
    f"WHEN {d} THEN {_math.log10(1 + 1 / d)!r}::DOUBLE"
    for d in range(1, 10)
) + " ELSE 0.0::DOUBLE END"

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
