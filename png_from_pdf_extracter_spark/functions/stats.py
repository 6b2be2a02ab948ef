"""Exact statistics that percentile()/approx_percentile and the
builtin aggregates don't cover: weighted quantiles, Spearman rank
correlation, lag-k autocorrelation, changepoints, concentration and
inequality indices, contingency tests, multiple-testing corrections,
resampling errors. Every estimator here is built
from INTEGER plans (value ordering + BIGINT/DECIMAL cumulative counts
and rank sums); floats appear only in one final deterministic emit
expression — the strongest possible cross-engine determinism class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .curate import _quant


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: tuple[str, ...] = (),
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Exact lower weighted q-quantile per group (default q=1/2, the
    weighted median): the smallest value whose cumulative weight reaches
    ``q`` of the group's total — "the doc length below which half the
    TOKENS sit" rather than half the docs, the question a token-budgeted
    corpus actually asks. The quantile is given as a RATIONAL
    ``q_num/q_den`` and the reach test is ``cumw * q_den >= total *
    q_num`` — integer weights in, zero float comparisons anywhere.

    Plan: one group-keyed window (ordered cumulative sum + full-frame
    total over the SAME exchange), one min-aggregate. Returns
    ``(group..., total_w, wq_value)``.
    """
    v = F.col(value_col)
    wt = F.col(weight_col).cast("long")
    win = Window.partitionBy(*group_cols).orderBy(
        v.asc(), wt.asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy(*group_cols)
    marked = df.select(
        *group_cols,
        v.alias("__v"),
        F.sum(wt).over(win).alias("__cumw"),
        F.sum(wt).over(full).alias("__total"),
    )
    reached = marked.filter(
        F.col("__cumw") * q_den >= F.col("__total") * q_num
    )
    return reached.groupBy(*group_cols).agg(
        F.max("__total").cast("long").alias("total_w"),
        F.min("__v").alias("wq_value"),
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns, exact
    under ties (Pearson over AVERAGE ranks, the textbook tie-corrected
    estimator) — the monotone-association gate a curation pipeline runs
    between, say, a quality score and a downstream metric before
    trusting either.

    Integer construction: average rank of value v is (cum_below(v) +
    (cnt_v + 1)/2), so DOUBLED ranks ``r2 = 2*cum_below + cnt + 1`` are
    integers. Rank maps are built per DISTINCT quantized value (one
    running sum over the distinct-value table each for x and y — window
    bounded by value cardinality, not rows) and joined back on the
    quantized value (a shuffle join; the rank map is same-order-of-
    magnitude as the distinct-value count, broadcastable only when the
    domain is small — document, don't assume). Rank sums/products are
    accumulated as DECIMAL(38,0): Σ r2x*r2y ≤ 4n³ overflows BIGINT past
    ~1e9 rows, and the final Pearson numerator n*Sxy - Sx*Sy reaches
    ~4n⁴. The only floats are ONE final expression over exact decimal
    aggregates (deterministic: identical inputs, identical expression
    tree, no float summation anywhere).

    Returns one row: (n_pairs, sx2, sy2, rho) — sx2/sy2 are the exact
    doubled-rank sums (each must equal n*(n+1), pinned in tests), rho
    floor-quantized 6dp, NULL when either margin is constant.
    """
    qx = _quant(F.col(x_col), quantize)
    qy = _quant(F.col(y_col), quantize)
    base = df.select(qx.alias("qx"), qy.alias("qy")).filter(
        F.col("qx").isNotNull() & F.col("qy").isNotNull()
    )

    def rank_map(col_name: str) -> DataFrame:
        cnt = base.groupBy(col_name).agg(F.count("*").alias("c"))
        below = Window.orderBy(col_name).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return cnt.select(
            col_name,
            (
                2 * F.coalesce(F.sum("c").over(below), F.lit(0))
                + F.col("c")
                + 1
            ).alias(f"r2{col_name[1:]}"),
        )

    ranked = base.join(rank_map("qx"), "qx").join(rank_map("qy"), "qy")
    dec = "decimal(38,0)"
    s = ranked.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("r2x").cast(dec)).alias("sx"),
        F.sum(F.col("r2y").cast(dec)).alias("sy"),
        F.sum((F.col("r2x") * F.col("r2x")).cast(dec)).alias("sxx"),
        F.sum((F.col("r2y") * F.col("r2y")).cast(dec)).alias("syy"),
        F.sum((F.col("r2x") * F.col("r2y")).cast(dec)).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return s.select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("sx").cast("long").alias("sx2"),
        F.col("sy").cast("long").alias("sy2"),
        F.when(
            (denx > 0) & (deny > 0),
            F.floor(
                num / (F.sqrt(denx) * F.sqrt(deny)) * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("rho"),
    )


def autocorr_lag1(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Per-group lag-1 autocorrelation of a value sequence — Pearson r
    between consecutive observations under the group's stable ordering
    (``order_cols`` must be a deterministic total order within the
    group, e.g. (ts, event_id)). The streaming analyst's "is this
    signal trending or white noise" number.

    Integer construction: values quantized to BIGINT, consecutive pairs
    formed by ONE lead() window per group, then all five Pearson sums
    accumulated as exact BIGINTs in a groupBy on the SAME key — AQE
    reuses the window's exchange, so the whole operator is a single
    shuffle on the group key. Per-group magnitudes bound the integers:
    n_g * Σx² ≤ n_g² * max(q)², safe in BIGINT for per-key sequence
    lengths up to ~10^5 at 2dp quantization of O(10^3) values; larger
    per-key sequences should cast the sums to DECIMAL(38,0) (same
    shape, [[spearman_corr]] shows the pattern).

    Returns (group..., n_pairs, sx, sy, sxy, r1) with r1 floor-6dp,
    NULL when either margin of the pair sequence is constant.
    """
    q = _quant(F.col(value_col), quantize)
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    pairs = (
        df.select(*group_cols, *order_cols, q.alias("x"))
        .withColumn("y", F.lead("x").over(w))
        .filter(F.col("y").isNotNull())
    )
    s = pairs.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    n = F.col("n_pairs")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        *group_cols,
        "n_pairs",
        "sx",
        "sy",
        "sxy",
        F.when(
            (denx > 0) & (deny > 0),
            F.floor(num / (F.sqrt(denx) * F.sqrt(deny)) * F.lit(1e6))
            / F.lit(1e6),
        ).alias("r1"),
    )


def running_distinct(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Cumulative DISTINCT count per group under a stable order — "how
    many distinct event types had this user produced as of each event"
    — the classic window SQL cannot express directly (COUNT(DISTINCT)
    over a running frame is unsupported in every engine).

    Standard exact decomposition: a value's FIRST occurrence within
    (group, value) gets flag 1 (row_number over that key), and the
    running sum of flags under the group's order is the running
    distinct count. Two windows on DIFFERENT keys = two shuffles — the
    honest minimum for this semantic; both are hash exchanges on keys
    that scale with the data (no single-partition stage anywhere).

    ``order_cols`` must totally order rows within a group. Returns the
    input columns' group/order projection plus ``n_distinct``.
    """
    first_w = Window.partitionBy(*group_cols, value_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    run_w = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = df.select(
        *group_cols,
        *order_cols,
        F.when(F.row_number().over(first_w) == 1, 1)
        .otherwise(0)
        .alias("__first"),
    )
    return flagged.select(
        *group_cols,
        *order_cols,
        F.sum("__first").over(run_w).cast("long").alias("n_distinct"),
    )


def changepoint_single(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    quantize: int = 1,
    min_seg: int = 2,
) -> DataFrame:
    """Exact single-changepoint detection per group: the split index k
    that MINIMIZES two-segment squared error (equivalently maximizes
    the between-segment contrast) over the value sequence in its stable
    order — the one-breakpoint special case of binary segmentation,
    the standard "did this metric shift and when" question.

    Objective, in exact integers: minimizing SSE_l + SSE_r is
    equivalent to maximizing h(k) = (Sx_l·n_r − Sx_r·n_l)² / (n_l·n_r)
    (the between-group sum of squares, up to the constant total). Every
    prefix sum is a BIGINT of 10^-quantize-gridded values; h is ONE
    deterministic double per k (identical integers → identical double
    in both engines), and the argmax tie-breaks on the SMALLEST k via
    a rank window. Default 1dp quantization keeps the cross term
    Sx²·n < 2^63 for per-key sequences up to ~10^4 points of O(10^3)
    values; longer keys need coarser grids or DECIMAL sums (the
    [[spearman_corr]] pattern).

    Plan: prefix sums + totals + score + rank are ALL windows/filters
    on the same group-key exchange — one shuffle, then a projection.
    Returns (group..., n, k_star, mean_left, mean_right, bss) with k =
    size of the left segment (min_seg ≤ k ≤ n − min_seg), means
    floor-6dp; groups shorter than 2·min_seg are dropped.
    """
    q = _quant(F.col(value_col), quantize)
    ow = [F.col(c).asc() for c in order_cols]
    pre = Window.partitionBy(*group_cols).orderBy(*ow).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.partitionBy(*group_cols)
    marked = df.select(
        *group_cols,
        F.row_number()
        .over(Window.partitionBy(*group_cols).orderBy(*ow))
        .alias("__k"),
        F.sum(q).over(pre).alias("__sl"),
        F.sum(q).over(full).alias("__st"),
        F.count("*").over(full).alias("__n"),
    )
    cand = marked.filter(
        (F.col("__k") >= min_seg)
        & (F.col("__k") <= F.col("__n") - min_seg)
    )
    n_l = F.col("__k")
    n_r = F.col("__n") - F.col("__k")
    contrast = F.col("__sl") * n_r - (F.col("__st") - F.col("__sl")) * n_l
    score = (
        (contrast.cast("double") * contrast.cast("double"))
        / (n_l * n_r).cast("double")
    )
    scored = cand.select(
        *group_cols, "__k", "__n", "__sl", "__st", score.alias("__bss")
    )
    best = Window.partitionBy(*group_cols).orderBy(
        F.col("__bss").desc(), F.col("__k").asc()
    )
    scale = float(10**quantize)
    return (
        scored.withColumn("__r", F.row_number().over(best))
        .filter(F.col("__r") == 1)
        .select(
            *group_cols,
            F.col("__n").cast("long").alias("n"),
            F.col("__k").cast("long").alias("k_star"),
            (
                F.floor(
                    F.col("__sl") / (F.col("__k") * scale) * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("mean_left"),
            (
                F.floor(
                    (F.col("__st") - F.col("__sl"))
                    / ((F.col("__n") - F.col("__k")) * scale)
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("mean_right"),
            (F.floor(F.col("__bss") * F.lit(100)) / F.lit(100)).alias(
                "bss_q2"
            ),
        )
    )


def benford_digits(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    quantize: int = 2,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    fraud/synthetic-data diagnostic (organically-grown magnitudes lead
    with 1 ~30% of the time; fabricated or uniformly-generated numbers
    don't). Emitted per digit so the caller can gate on any distance.

    Cross-engine exactness trap avoided by construction: extracting the
    leading digit via floor(v / 10^floor(log10 v)) is libm-dependent
    (log10(1000) = 2.999... on common libms, flooring to the WRONG
    digit differently per engine). Instead values quantize to BIGINT
    and the digit is the first character of the INTEGER's decimal
    string — integer-to-string is exact and identical everywhere.
    Zero/negative-quantized rows are excluded (no leading digit).

    Plan: map-side digit projection, one combinable count per
    (group, digit), one broadcast of per-group totals. Expected shares
    log10(1+1/d) and the chi-squared contribution are one deterministic
    float expression per DIGIT ROW (never a cross-row float sum).

    Returns (group..., digit, n, share_q, expected_q, chi2_term_q),
    floor-6dp.
    """
    import math

    q = _quant(F.col(value_col), quantize)
    base = df.select(*group_cols, q.alias("__q")).filter(
        F.col("__q") > 0
    )
    digit = F.substring(F.col("__q").cast("string"), 1, 1).cast("int")
    cnt = base.select(
        *group_cols, digit.alias("digit")
    ).groupBy(*group_cols, "digit").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = cnt.groupBy(*group_cols).agg(F.sum("n").alias("__tot"))
    joined = (
        cnt.join(F.broadcast(tot), list(group_cols))
        if group_cols
        else cnt.crossJoin(F.broadcast(tot))
    )
    expected = F.lit(0.0)
    for d in range(1, 10):
        expected = F.when(
            F.col("digit") == d, F.lit(math.log10(1 + 1 / d))
        ).otherwise(expected)
    exp_n = F.col("__tot") * expected
    chi2 = (F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n
    f6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return joined.select(
        *group_cols,
        "digit",
        "n",
        f6(F.col("n") / F.col("__tot")).alias("share_q"),
        f6(expected).alias("expected_q"),
        f6(chi2).alias("chi2_term_q"),
    )


def rolling_median(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    window_rows: int = 5,
    quantize: int = 2,
) -> DataFrame:
    """Exact rolling LOWER median over the trailing ``window_rows``
    observations per group — the robust twin of the trailing mean
    (one outlier can't drag it). No engine exposes median as a native
    running window aggregate; the exact construction is a per-frame
    sorted array pick: element ceil(n/2) (1-based) of the ascending
    frame — a total, deterministic definition with NO averaging of
    middle pairs, so quantized BIGINTs pass through untouched and the
    cross-engine hash is exact.

    Plan/scale: one group-keyed window; the collected frame is bounded
    by ``window_rows`` (a constant), so per-row state is O(w log w)
    sort work and the operator is one exchange. For large w prefer a
    two-heap/streaming-percentile design — out of scope; trailing
    windows in practice are small (5–100 rows).

    Returns (group..., order..., med_q) with med_q = the quantized
    BIGINT median (divide by 10^quantize downstream if the raw scale
    is wanted).
    """
    q = _quant(F.col(value_col), quantize)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    frame = F.sort_array(F.collect_list(q).over(w))
    med = F.element_at(
        frame, F.ceil(F.size(frame) / 2).cast("int")
    )
    return df.select(
        *group_cols, *order_cols, med.alias("med_q")
    )


def correlogram(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    max_lag: int = 5,
    quantize: int = 2,
) -> DataFrame:
    """Autocorrelation function per group for lags 1..max_lag — the
    full correlogram [[autocorr_lag1]] is the first bar of. Each lag's
    Pearson r uses exact BIGINT sums over that lag's pair set (the
    proper ACF-of-pairs estimator: means recomputed per lag, so short
    series don't smear).

    Plan: ONE group-keyed window computes lead(x, l) for every lag as
    sibling columns (same exchange, no per-lag pass), the lag axis
    unpivots via an inline explode (map-side), and one groupBy on
    (group, lag) — which AQE co-partitions with the window — finishes
    it. Total: one shuffle whatever max_lag is.

    Returns (group..., lag, n_pairs, r) with r floor-6dp, NULL when a
    margin is constant or the lag exceeds the sequence.
    """
    q = _quant(F.col(value_col), quantize)
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    leads = df.select(
        *group_cols,
        q.alias("__x"),
        *[
            F.lead(q, lag).over(w).alias(f"__y{lag}")
            for lag in range(1, max_lag + 1)
        ],
    )
    pairs = leads.select(
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("lag"),
                        F.col("__x").alias("x"),
                        F.col(f"__y{lag}").alias("y"),
                    )
                    for lag in range(1, max_lag + 1)
                ]
            )
        ).alias("p"),
    ).select(
        *group_cols, "p.lag", "p.x", "p.y"
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy(*group_cols, "lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_pairs")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    dx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    dy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        *group_cols,
        "lag",
        "n_pairs",
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(num / (F.sqrt(dx) * F.sqrt(dy)) * F.lit(1e6))
            / F.lit(1e6),
        ).alias("r"),
    )


def gini_concentration(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    scope_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-concentration diagnostic over one categorical axis
    (source / domain / language): Gini coefficient, Herfindahl index
    (HHI) and top-group share of the weight distribution — "is 1% of
    domains contributing 90% of the tokens?", the balance question every
    training-data mix review asks before weighting (the reference's
    single-mailbox world has no analog; this is pipeline-grade).

    Exactness: group weights are BIGINT sums; with groups ranked
    ascending by weight (ties broken by group name — the rank-weighted
    sum is permutation-invariant within a tie block, the tie-break only
    pins determinism), ``G = (2*sum(i*w_i) - (n+1)*W) / (n*W)`` has an
    exact DECIMAL(38,0) numerator and denominator; the emitted values
    are single floor-6dp float expressions at the very end. HHI =
    sum(w_i^2)/W^2 with an exact DECIMAL numerator.

    Plan: one map-combinable groupBy collapses the corpus to one row
    per group; the ordered window then runs over the DISTINCT-GROUP
    table only — bounded by group cardinality (domains, not documents),
    the standard shape for a global rank over a small key space.
    ``scope_cols`` partitions everything (rank window and final
    aggregate alike) for per-scope diagnostics — e.g. source
    concentration WITHIN each language. Returns one row per scope
    (or ONE row when unscoped): (scope..., n_groups, total_w,
    gini_ppm, hhi_ppm, top_share_ppm).
    """
    sc = list(scope_cols)
    wsum = (
        df.groupBy(*sc, F.col(group_col).alias("__g"))
        .agg(F.sum(F.col(weight_col).cast("long")).alias("__w"))
    )
    rank_w = Window.partitionBy(*sc).orderBy(
        F.col("__w").asc(), F.col("__g").asc()
    )
    ranked = wsum.select(
        *sc,
        "__w",
        F.row_number().over(rank_w).alias("__i"),
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy(*sc).agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum("__w").cast("long").alias("total_w"),
        F.sum(
            (F.col("__i").cast(dec) * F.col("__w").cast(dec))
        ).alias("__iw"),
        F.sum(F.col("__w").cast(dec) * F.col("__w").cast(dec)).alias(
            "__w2"
        ),
        F.max("__w").cast("long").alias("__wmax"),
    )
    n = F.col("n_groups").cast(dec)
    w_tot = F.col("total_w").cast(dec)
    gini_num = (
        F.lit(2).cast(dec) * F.col("__iw") - (n + F.lit(1)) * w_tot
    )
    return agg.select(
        *sc,
        "n_groups",
        "total_w",
        F.floor(
            gini_num.cast("double")
            / (n * w_tot).cast("double")
            * F.lit(1e6)
        ).cast("long").alias("gini_ppm"),
        F.floor(
            F.col("__w2").cast("double")
            / (w_tot * w_tot).cast("double")
            * F.lit(1e6)
        ).cast("long").alias("hhi_ppm"),
        F.floor(
            F.col("__wmax").cast("double")
            / F.col("total_w").cast("double")
            * F.lit(1e6)
        ).cast("long").alias("top_share_ppm"),
    )


# Poisson(1) CDF quantized to the md5[:15] hash space [0, 16^15):
# count(h) = #{k : T_k <= h}. Exact integer literals shared verbatim
# with the DuckDB oracle — the draw is engine-independent by
# construction. Tail capped at 9 (P ~ 1.1e-6, and identically so in
# both engines: determinism, not approximation, is the contract).
POISSON1_THRESHOLDS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
    1152920207336574720,
)


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    replicas: int = 24,
    alpha_num: int = 1,
    alpha_den: int = 20,
    quantize: int = 6,
) -> DataFrame:
    """Distributed bootstrap confidence interval for the per-group mean
    — the map-only Poisson bootstrap (each row joins replica r with
    multiplicity ~ Poisson(1)) that replaces the unshardable classic
    resample-n-rows bootstrap at scale: no global sampling step, no
    coordination, every row's multiplicity is a pure function of
    ``(id, r)``.

    Determinism (the repo's signature move): the Poisson draw is the
    count of ``POISSON1_THRESHOLDS`` at or below
    ``bigint(md5(id || ':' || r)[:15])`` — integer thresholds shared
    with the SQL oracle, so Spark and DuckDB materialize the IDENTICAL
    resampled universe. Values are round-quantized to integers
    (``10^quantize``); each replica mean is an exact integer ratio
    emitted floor-6dp; the CI picks order statistics from the R sorted
    replica means at ``floor(alpha*(R-1))`` / ``(R-1) - floor(
    alpha*(R-1))`` (alpha given as a rational).

    Plan: map-side explode x R (no shuffle), then ONE map-combinable
    groupBy on (group, replica) — integer sums — then a tiny groupBy
    over R-bounded rows per group. Replicas where no row drew a
    positive count (P = e^-n per replica, deterministic in both
    engines) are dropped before the order statistics. Returns
    (group..., n_replicas, mean_q, ci_lo_q, ci_hi_q).
    """
    if replicas < 2:
        raise ValueError("replicas must be >= 2")
    if not (0 < alpha_num / alpha_den < 0.5):
        raise ValueError("alpha must be in (0, 0.5)")
    vq = _quant(F.col(value_col), quantize)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("__id").cast("string"),
                    F.lit(":"),
                    F.col("__r").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cnt = sum(
        (h >= F.lit(t)).cast("int") for t in POISSON1_THRESHOLDS
    ).cast("long")
    fanned = df.select(
        *group_cols,
        F.col(id_col).alias("__id"),
        vq.alias("__vq"),
        F.explode(
            F.sequence(F.lit(0), F.lit(replicas - 1))
        ).alias("__r"),
    ).select(
        *group_cols, "__r", cnt.alias("__c"), F.col("__vq")
    )
    rep = (
        fanned.groupBy(*group_cols, "__r")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * F.col("__vq")).alias("__s"),
        )
        .filter(F.col("__n") > 0)
        .select(
            *group_cols,
            F.floor(
                F.col("__s").cast("double")
                / F.col("__n").cast("double")
                / F.lit(float(10 ** quantize))
                * F.lit(1e6)
            ).cast("long").alias("__m_ppm"),
        )
    )
    means = F.sort_array(F.collect_list("__m_ppm"))
    out = rep.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_replicas"),
        means.alias("__ms"),
    )
    lo_idx = (
        F.floor(
            (F.col("n_replicas") - 1) * F.lit(alpha_num) / F.lit(alpha_den)
        ).cast("int")
    )
    hi_idx = (F.col("n_replicas").cast("int") - 1) - lo_idx
    return out.select(
        *group_cols,
        "n_replicas",
        F.floor(
            F.aggregate(
                "__ms", F.lit(0).cast("decimal(38,0)"),
                lambda acc, x: acc + x.cast("decimal(38,0)"),
            ).cast("double")
            / F.col("n_replicas").cast("double")
        ).cast("long").alias("mean_ppm"),
        F.element_at(F.col("__ms"), lo_idx + 1).alias("ci_lo_ppm"),
        F.element_at(F.col("__ms"), hi_idx + 1).alias("ci_hi_ppm"),
    )


def chi2_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns
    (language x source, label x shard — "is the attribute mix uniform
    across partitions", the stratification sanity check run before any
    per-stratum mix decision). Emits one row PER CONTINGENCY CELL with
    its observed count, expected count and chi2 contribution — per-cell
    float emission, never a cross-row float sum (the Benford rule: the
    oracle hash stays order-independent because each float is a pure
    function of that cell's exact integers).

    Plan: ONE corpus shuffle builds the contingency-cell table
    (groupBy a,b — map-combinable); row totals, column totals and the
    grand total are re-aggregations OVER THE CELL TABLE (bounded by
    |A|x|B| cells, not rows) joined back broadcast. Expected =
    ra*cb/N with an exact DECIMAL(38,0) numerator; contribution =
    (o-e)^2/e evaluated in one fixed op order both engines share.
    Returns (a, b, observed, expected_ppm, chi2_ppm).
    """
    dec = "decimal(38,0)"
    cells = (
        df.select(
            F.col(col_a).alias("a"), F.col(col_b).alias("b")
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("observed"))
    )
    row_tot = cells.groupBy("a").agg(
        F.sum("observed").cast("long").alias("ra")
    )
    col_tot = cells.groupBy("b").agg(
        F.sum("observed").cast("long").alias("cb")
    )
    grand = F.broadcast(
        cells.agg(F.sum("observed").cast("long").alias("N"))
    )
    j = (
        cells.join(F.broadcast(row_tot), "a")
        .join(F.broadcast(col_tot), "b")
        .crossJoin(grand)
    )
    e = (
        (F.col("ra").cast(dec) * F.col("cb").cast(dec)).cast("double")
        / F.col("N").cast("double")
    )
    o = F.col("observed").cast("double")
    contrib = (o - e) * (o - e) / e
    return j.select(
        "a",
        "b",
        "observed",
        F.floor(e * F.lit(1e6)).cast("long").alias("expected_ppm"),
        F.floor(contrib * F.lit(1e6)).cast("long").alias("chi2_ppm"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    group_cols: tuple[str, ...] = (),
    alpha_num: int = 5,
    alpha_den: int = 100,
    quantize: int = 6,
) -> DataFrame:
    """Benjamini-Hochberg FDR control over a battery of p-values — the
    multiple-testing step every fleet of per-group tests in this
    registry (chi² per term, changepoint per user)
    needs before anyone acts on "significant": find the largest rank k
    with ``p_(k) <= (k/m) * alpha`` and reject everything at or below
    that p.

    INTEGER-EXACT end-to-end: p is quantized to ``10^quantize`` units
    and alpha given as the rational ``alpha_num/alpha_den``, so the BH
    condition becomes ``pq * m * alpha_den <= k * alpha_num *
    10^quantize`` — BIGINT on both sides, zero float comparisons (the
    [[weighted_quantile]] reach-test discipline). Ties in p share a
    fate automatically: k is each row's count of values <= its own
    (a RANGE-frame window), which for tied rows is the LARGEST tied
    rank — the standard BH convention.

    Plan: one RANGE cumulative count + one full-frame max per group —
    two windows on the group exchange, no join back, no sort of
    anything but the in-group p order. Returns the group columns plus
    (p_q, k_le, m, reject).
    """
    pq = _quant(F.col(p_col), quantize)
    gw = (
        Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    )
    rng = gw.orderBy("p_q").rangeBetween(Window.unboundedPreceding, 0)
    full = gw.orderBy("p_q").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scale = 10**quantize
    base = df.select(*group_cols, pq.alias("p_q")).withColumn(
        "k_le", F.count("*").over(rng)
    ).withColumn("m", F.count("*").over(full))
    cand = F.when(
        F.col("p_q") * F.col("m") * F.lit(int(alpha_den))
        <= F.col("k_le") * F.lit(int(alpha_num)) * F.lit(scale),
        F.col("p_q"),
    )
    thr = F.max(cand).over(full)
    return base.select(
        *group_cols,
        "p_q",
        F.col("k_le").cast("long").alias("k_le"),
        F.col("m").cast("long").alias("m"),
        (thr.isNotNull() & (F.col("p_q") <= thr)).alias("reject"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    lo_num: int = 5,
    lo_den: int = 100,
    hi_num: int = 95,
    hi_den: int = 100,
    quantize: int = 2,
) -> DataFrame:
    """Group-wise winsorization — clamp each value into the group's
    [lo, hi] quantile band and flag what was clamped: the robust
    outlier treatment a metrics pipeline applies before means/trends
    (medians shrug outliers off; means need the tails tamed).

    Quantile thresholds are the EXACT lower quantiles by the
    [[weighted_quantile]] integer reach test over the per-group
    distinct-value table (``cum * den >= n * num`` — no float
    percentile, no interpolation): cross-engine reproducible and
    scale-safe (windows bounded by per-group VALUE CARDINALITY, and
    the threshold join back to rows is group-keyed). Returns the
    group columns plus (v_q, v_wins, clamped) in quantized units.
    """
    vq = _quant(F.col(value_col), quantize)
    gl = list(group_cols)
    base = df.select(*gl, vq.alias("v_q"))
    cnt = base.groupBy(*gl, "v_q").agg(F.count("*").alias("__c"))
    cum_w = (
        Window.partitionBy(*gl) if gl else Window.partitionBy()
    ).orderBy("v_q").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = cnt.withColumn("__cum", F.sum("__c").over(cum_w)).withColumn(
        "__n",
        F.sum("__c").over(
            (Window.partitionBy(*gl) if gl else Window.partitionBy())
            .orderBy("v_q")
            .rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    lo = cum.filter(
        F.col("__cum") * F.lit(int(lo_den)) >= F.col("__n") * F.lit(int(lo_num))
    ).groupBy(*gl).agg(F.min("v_q").alias("__lo"))
    hi = cum.filter(
        F.col("__cum") * F.lit(int(hi_den)) >= F.col("__n") * F.lit(int(hi_num))
    ).groupBy(*gl).agg(F.min("v_q").alias("__hi"))
    if gl:
        joined = base.join(lo, gl).join(hi, gl)
    else:
        joined = base.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
    return joined.select(
        *gl,
        "v_q",
        F.greatest(
            F.least(F.col("v_q"), F.col("__hi")), F.col("__lo")
        ).alias("v_wins"),
        (
            (F.col("v_q") < F.col("__lo")) | (F.col("v_q") > F.col("__hi"))
        ).alias("clamped"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Cramér's V — the [0,1] effect-size normalization of
    [[chi2_independence]]: chi2 scales with N, so "is the association
    MEANINGFUL" needs V = sqrt(chi2 / (N * (min(r,c) - 1))). Where
    chi2_independence emits per-cell rows (order-free floats), V needs
    the cross-cell total, so the cell contributions are accumulated in
    FIXED (a, b) key order — the stepped-sum discipline applied to
    the contingency table. Plan identical to
    chi2_independence: ONE corpus shuffle to the cell table, margins
    re-aggregated over cells, broadcast joins. Returns one row
    (n, r, c, chi2_q6, v_q6); v_q6 null for a degenerate 1xC / Rx1
    table.
    """
    dec = "decimal(38,0)"
    cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("o"))
    )
    row_tot = cells.groupBy("a").agg(F.sum("o").cast("long").alias("ra"))
    col_tot = cells.groupBy("b").agg(F.sum("o").cast("long").alias("cb"))
    grand = F.broadcast(cells.agg(F.sum("o").cast("long").alias("N")))
    j = (
        cells.join(F.broadcast(row_tot), "a")
        .join(F.broadcast(col_tot), "b")
        .crossJoin(grand)
    )
    e = (
        (F.col("ra").cast(dec) * F.col("cb").cast(dec)).cast("double")
        / F.col("N").cast("double")
    )
    o = F.col("o").cast("double")
    contrib = (o - e) * (o - e) / e
    ordw = Window.orderBy("a", "b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy("a", "b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # ZERO cells never appear in the observed-cell table, yet each
    # contributes its full expected count e to chi2. Sum(e) over ALL
    # cells is exactly N, so the missing-cell mass is N - sum_observed(e)
    # — accumulate e alongside the observed contributions in the same
    # fixed order and add the remainder once at the end.
    stepped = j.select(
        F.col("N"),
        F.sum(contrib).over(ordw).alias("__chi2_obs"),
        F.sum(e).over(ordw).alias("__e_obs"),
        F.row_number().over(Window.orderBy("a", "b")).alias("__rn"),
        F.count("*").over(full).alias("__cells"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__cells")).select(
        "N",
        (
            F.col("__chi2_obs")
            + (F.col("N").cast("double") - F.col("__e_obs"))
        ).alias("__chi2"),
    )
    dims = cells.agg(
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
    )
    mdim = F.least(F.col("r"), F.col("c")).cast("double")
    v_stat = F.sqrt(
        F.col("__chi2") / (F.col("N").cast("double") * (mdim - F.lit(1.0)))
    )
    return last.crossJoin(F.broadcast(dims)).select(
        F.col("N").alias("n"),
        "r",
        "c",
        (F.floor(F.col("__chi2") * F.lit(1e6)) / F.lit(1e6)).alias("chi2_q6"),
        F.when(
            mdim > 1, F.floor(v_stat * F.lit(1e6)) / F.lit(1e6)
        ).alias("v_q6"),
    )


def did_estimate(
    df: DataFrame,
    y_col: str,
    treated_col: str,
    post_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Difference-in-differences estimator — the workhorse "did the
    intervention move the metric" reading over a (treated, post) 2x2:
    DiD = (mean_t,post - mean_t,pre) - (mean_c,post - mean_c,pre). The
    pre-period difference nets out level gaps between the cohorts; the
    control's pre->post change nets out the secular trend (parallel-
    trends is the identifying assumption — test it upstream on the
    pre period).

    Exactness: y integer-quantized; ONE map-combinable aggregate emits
    the four cells' (n, sum) as exact BIGINTs; the estimate is a single
    fixed-op-order float expression over them, rescaled back to the
    ORIGINAL units (sums are in 10^quantize units). Returns one row
    (n_tp, n_tq, n_cp, n_cq, s_tp, s_tq, s_cp, s_cq, did_q6) — cells
    named t/c x p(ost)/q(pre); did_q6 null when any cell is empty.
    """
    yq = _quant(F.col(y_col), quantize)
    t = F.col(treated_col).cast("boolean")
    p = F.col(post_col).cast("boolean")
    base = df.select(
        yq.alias("__y"), t.alias("__t"), p.alias("__p")
    ).filter(
        F.col("__y").isNotNull()
        & F.col("__t").isNotNull()
        & F.col("__p").isNotNull()
    )

    def _cell(tt, pp, tag):
        cond = (F.col("__t") == tt) & (F.col("__p") == pp)
        return [
            F.sum(cond.cast("long")).cast("long").alias("n_" + tag),
            F.sum(F.when(cond, F.col("__y")).otherwise(F.lit(0)))
            .cast("long")
            .alias("s_" + tag),
        ]

    agg = base.agg(
        *(
            _cell(True, True, "tp")
            + _cell(True, False, "tq")
            + _cell(False, True, "cp")
            + _cell(False, False, "cq")
        )
    )

    def _m(tag):
        return F.col("s_" + tag).cast("double") / F.col(
            "n_" + tag
        ).cast("double")

    did = ((_m("tp") - _m("tq")) - (_m("cp") - _m("cq"))) / F.lit(
        float(10**quantize)
    )
    nonempty = (
        (F.col("n_tp") > 0)
        & (F.col("n_tq") > 0)
        & (F.col("n_cp") > 0)
        & (F.col("n_cq") > 0)
    )
    return agg.select(
        "n_tp",
        "n_tq",
        "n_cp",
        "n_cq",
        "s_tp",
        "s_tq",
        "s_cp",
        "s_cq",
        F.when(
            nonempty, F.floor(did * F.lit(1e6)) / F.lit(1e6)
        ).alias("did_q6"),
    )


def cochran_q(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran's Q test — [[mcnemar_test]] generalized from 2 paired
    classifiers to k: given a LONG table (item, rater, success 0/1)
    with every rater judging every item, tests whether the k success
    rates differ. Q = (k-1) * (k*sum T_j^2 - T^2) / (k*sum R_i -
    sum R_i^2) with T_j = per-rater totals, R_i = per-item totals,
    T = grand total; chi2_{k-1} under the null.

    EXACT cross-engine: two map-combinable groupBys (rater totals,
    item totals) re-aggregated to FOUR BIGINT scalars joined by
    single-row broadcast crossJoin; one float division at the end.
    Returns one row (n_items, k, grand, q_q6); q_q6 null when the
    denominator is zero (every item unanimous — no discordance to
    test, the k-rater analog of McNemar's b+c=0).
    """
    s = F.col(success_col).cast("long")
    base = df.select(
        F.col(item_col).alias("__i"),
        F.col(rater_col).alias("__r"),
        s.alias("__s"),
    )
    rater_tot = base.groupBy("__r").agg(F.sum("__s").alias("t"))
    rt = rater_tot.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sum_t2"),
        F.sum("t").cast("long").alias("grand"),
    )
    item_tot = base.groupBy("__i").agg(F.sum("__s").alias("r"))
    it = item_tot.agg(
        F.count("*").cast("long").alias("n_items"),
        F.sum("r").cast("long").alias("sum_r"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sum_r2"),
    )
    j = rt.crossJoin(F.broadcast(it))
    den = F.col("k") * F.col("sum_r") - F.col("sum_r2")
    num = (F.col("k") - 1) * (
        F.col("k") * F.col("sum_t2") - F.col("grand") * F.col("grand")
    )
    return j.select(
        "n_items",
        "k",
        "grand",
        F.when(
            den > 0,
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("q_q6"),
    )


def durbin_watson(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: tuple[str, ...] = (),
    quantize: int = 2,
) -> DataFrame:
    """Durbin-Watson statistic per group — the first-difference
    autocorrelation diagnostic: DW = sum (e_t - e_{t-1})^2 / sum e_t^2
    over mean-centered values in ``order_col`` order; ~2 means no
    lag-1 autocorrelation, toward 0 positive, toward 4 negative. The
    single-number screen before the full [[autocorrelation]]
    correlogram.

    EXACT cross-engine by n^2-scaling: the mean CANCELS in the
    differences, so num = sum(d_t^2) is a plain BIGINT off one lag
    window; the denominator is exact as den_n2 = sum (n*v_t - S)^2
    (BIGINT, with S = sum v), and DW = n^2 * num / den_n2 — one float
    division, no float mean anywhere. Returns (group..., n, num, den_n2,
    dw_q6); null when den_n2 = 0 (constant series).
    """
    v = _quant(F.col(value_col), quantize)
    gl = list(group_cols)
    base = df.select(
        *gl, F.col(order_col).alias("__o"), v.alias("__v")
    ).filter(F.col("__v").isNotNull())
    ws = Window.partitionBy(*gl).orderBy("__o")
    seq = base.select(
        *gl,
        "__v",
        (F.col("__v") - F.lag("__v").over(ws)).alias("__d"),
    )
    agg = seq.groupBy(*gl).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__v").cast("long").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).cast("long").alias("__sq"),
        F.sum(F.col("__d") * F.col("__d")).cast("long").alias("num"),
    )
    # den_n2 = sum (n*v - S)^2 = n^2*sum v^2 - 2nS*S + n*S^2
    #        = n^2*sq - n*S^2  (expanded with BIGINT terms only)
    den_n2 = (
        F.col("n") * F.col("n") * F.col("__sq")
        - F.col("n") * F.col("__s") * F.col("__s")
    )
    dw = (
        (F.col("n") * F.col("n") * F.col("num")).cast("double")
        / den_n2.cast("double")
    )
    return agg.select(
        *gl,
        "n",
        "num",
        den_n2.cast("long").alias("den_n2"),
        F.when(
            den_n2 > 0, F.floor(dw * F.lit(1e6)) / F.lit(1e6)
        ).alias("dw_q6"),
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 100,
    quantize: int = 0,
) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-k order
    statistics: alpha_hat = 1 / (mean_{i<=k} ln(X_(n-i+1)) -
    ln(X_(n-k))) — the sharp "HOW heavy is the tail" number where
    [[zipf_fit]] regresses the whole rank-frequency line. The
    curation read: alpha ~1 means a handful of tokens/domains/users
    dominate the corpus mass (cap or downsample before they eat the
    mixture); alpha >= 2 means the tail is integrable and safe.

    EXACT cross-engine: values integer-quantized ([[_quant]]); the
    top-k membership boundary is the exact k-th-from-top order
    statistic computed on the distinct-value count table via a
    REVERSE running count (integer rank-reach, no sort of raw rows);
    ties at the boundary are truncated by rank so exactly k values
    enter. The ln sum runs in FIXED value order (descending) over at
    most k rows — the stepped-sum discipline — and the
    final assembly is one fixed-op-order float expression. Plan: one
    map-combinable (value -> count) shuffle; every window is over the
    distinct-value table, bounded by cardinality not corpus size.
    Returns (n, k, xref, alpha_q6) — xref is X_(n-k), the (k+1)-th
    largest value (the classic Hill reference); alpha null when the
    top-(k+1) span is degenerate (all equal) or n <= k.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(v.alias("__v")).filter(
        F.col("__v").isNotNull() & (F.col("__v") > 0)
    )
    cnt = base.groupBy("__v").agg(F.count("*").cast("long").alias("__c"))
    wdesc = Window.orderBy(F.desc("__v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    # reverse running count: how many raw values are >= this distinct v
    reach = cnt.select(
        "__v", "__c", F.sum("__c").over(wdesc).alias("__ge")
    )
    # expand only the boundary-straddling distinct values to raw
    # multiplicity, capped at rank k: rows above the boundary keep
    # full multiplicity, the boundary value keeps k - (count above)
    kk = F.lit(int(k))
    take = F.least(
        F.col("__c"), kk - (F.col("__ge") - F.col("__c"))
    )
    topk = reach.filter(take > 0).select(
        "__v", take.alias("__m")
    )
    # ln sum in fixed descending-value order over <= k distinct rows
    ordw = Window.orderBy(F.desc("__v")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.orderBy(F.desc("__v")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = topk.select(
        F.sum(F.col("__m").cast("double") * F.log(F.col("__v").cast("double")))
        .over(ordw)
        .alias("__s"),
        F.sum("__m").over(full).alias("__k_eff"),
        F.row_number().over(Window.orderBy(F.desc("__v"))).alias("__rn"),
        F.count("*").over(full).alias("__nr"),
    )
    lnsum = stepped.filter(F.col("__rn") == F.col("__nr")).select(
        "__s", "__k_eff"
    )
    # classic Hill reference X_(n-k): the (k+1)-th largest raw value =
    # the largest distinct value whose reverse reach covers k+1
    xref = F.broadcast(
        reach.filter(F.col("__ge") >= kk + 1).agg(
            F.max("__v").alias("__xr")
        )
    )
    totals = F.broadcast(base.agg(F.count("*").cast("long").alias("n")))
    ke = F.col("__k_eff").cast("double")
    gap = F.col("__s") / ke - F.log(F.col("__xr").cast("double"))
    alpha = F.lit(1.0) / gap
    return lnsum.crossJoin(xref).crossJoin(totals).select(
        "n",
        F.col("__k_eff").cast("long").alias("k"),
        (F.col("__xr").cast("double") / F.lit(10.0 ** quantize)).alias(
            "xref"
        ),
        F.when(gap > 0, F.floor(alpha * F.lit(1e6)) / F.lit(1e6)).alias(
            "alpha_q6"
        ),
    )


def cuped_adjust(
    df: DataFrame,
    pre_col: str,
    post_col: str,
    arm_col: str,
    quantize: int = 2,
) -> DataFrame:
    """CUPED variance-reduced A/B means (Deng et al., controlled-
    experiment Using Pre-Experiment Data): the adjusted metric
    Y' = Y - theta * (X - mean(X)) with theta = Cov(X, Y) / Var(X)
    strips the pre-period component out of each arm's mean, cutting
    the experiment's variance by the squared pre/post correlation —
    the standard sensitivity move a plain difference of means on Y
    leaves on the table. Reported per arm: raw mean, adjusted mean,
    plus pooled theta and the variance-reduction ratio rho^2.

    Two-group contract: ``arm_col`` binarized against the broadcast
    1-row min.

    EXACT cross-engine: X and Y integer-quantized ([[_quant]]); ONE
    map-combinable conditional aggregate produces the exact pooled
    moments (Sx, Sy BIGINT; Sxx, Syy, Sxy DECIMAL(38,0)) and per-arm
    (n, Sx, Sy); theta, the adjusted means, and rho^2 are each a
    single fixed-op-order float expression over those scalars,
    floor-quantized at emit. Null theta/adjusted when Var(X) == 0.
    Plan: one broadcast min + one 1-row aggregate, any input size.
    Returns (n_a, n_b, mean_a_q6, mean_b_q6, adj_a_q6, adj_b_q6,
    theta_q6, rho2_q6).
    """
    x = _quant(F.col(pre_col), quantize)
    y = _quant(F.col(post_col), quantize)
    base = df.select(
        x.alias("__x"), y.alias("__y"), F.col(arm_col).alias("__g")
    ).filter(
        F.col("__x").isNotNull()
        & F.col("__y").isNotNull()
        & F.col("__g").isNotNull()
    )
    gmin = F.broadcast(base.agg(F.min("__g").alias("__ga")))
    a = (F.col("__g") == F.col("__ga")).cast("int")
    dec = "decimal(38,0)"
    xd, yd = F.col("__x").cast(dec), F.col("__y").cast(dec)
    agg = base.crossJoin(gmin).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(yd * yd).alias("__syy"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(a).cast("long").alias("n_a"),
        F.sum(1 - a).cast("long").alias("n_b"),
        F.sum(F.col("__x") * a).cast("long").alias("__sx_a"),
        F.sum(F.col("__x") * (1 - a)).cast("long").alias("__sx_b"),
        F.sum(F.col("__y") * a).cast("long").alias("__sy_a"),
        F.sum(F.col("__y") * (1 - a)).cast("long").alias("__sy_b"),
    )
    scale = float(10 ** quantize)
    nn = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov_n = F.col("__sxy").cast("double") - sx * sy / nn
    varx_n = F.col("__sxx").cast("double") - sx * sx / nn
    vary_n = F.col("__syy").cast("double") - sy * sy / nn
    theta = F.try_divide(cov_n, varx_n)
    rho2 = F.try_divide(cov_n * cov_n, varx_n * vary_n)
    mx = sx / nn
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731

    def arm(side):
        n = F.col(f"n_{side}").cast("double")
        my = F.try_divide(F.col(f"__sy_{side}").cast("double"), n)
        mxs = F.try_divide(F.col(f"__sx_{side}").cast("double"), n)
        adj = my - theta * (mxs - mx)
        return my, adj

    my_a, adj_a = arm("a")
    my_b, adj_b = arm("b")
    ok = varx_n > 0
    return agg.select(
        "n_a",
        "n_b",
        q6(my_a / F.lit(scale)).alias("mean_a_q6"),
        q6(my_b / F.lit(scale)).alias("mean_b_q6"),
        F.when(ok, q6(adj_a / F.lit(scale))).alias("adj_a_q6"),
        F.when(ok, q6(adj_b / F.lit(scale))).alias("adj_b_q6"),
        F.when(ok, q6(theta)).alias("theta_q6"),
        F.when(ok & (vary_n > 0), q6(rho2)).alias("rho2_q6"),
    )


def jackknife_group_se(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Delete-a-group jackknife standard error of the global mean —
    the honest uncertainty for CLUSTERED corpora: rows inside a
    source/shard/crawl are correlated, so the iid SE (sd/sqrt(n))
    understates; leave-one-GROUP-out replicates measure how much any
    single group moves the headline number ([[bootstrap_ci]]
    resamples rows; this resamples GROUPS, the right unit when the
    group is the sampling unit).

    theta_(-g) = (S - s_g) / (N - n_g) over exact per-group integer
    sums; SE^2 = (G-1)/G * [sum theta^2 - (sum theta)^2 / G]. The two
    cross-group float sums are accumulated in FIXED group-key order
    over the G-row table (one ordered window computing both — the
    stepped-sum discipline), so the result is
    bit-reproducible. Plan: one map-combinable (group -> n, S)
    aggregate, windows over G rows. Returns (n, g, mean_q6, se_q6);
    se null when G < 2 or any group owns the whole corpus.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    per = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("__n_g"),
        F.sum("__v").cast("long").alias("__s_g"),
    )
    tot = F.broadcast(
        per.agg(
            F.sum("__n_g").cast("long").alias("__n"),
            F.sum("__s_g").cast("long").alias("__s"),
        )
    )
    theta = F.try_divide(
        (F.col("__s") - F.col("__s_g")).cast("double"),
        (F.col("__n") - F.col("__n_g")).cast("double"),
    )
    ordw = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = per.crossJoin(tot).select(
        "__n",
        "__s",
        F.sum(theta).over(ordw).alias("__st"),
        F.sum(theta * theta).over(ordw).alias("__st2"),
        F.row_number().over(Window.orderBy("__g")).alias("__rn"),
        F.count("*").over(full).alias("__gg"),
        F.max(F.col("__n_g") == F.col("__n")).over(full).alias(
            "__whole"
        ),
    )
    last = stepped.filter(F.col("__rn") == F.col("__gg"))
    gg = F.col("__gg").cast("double")
    var = (
        (gg - F.lit(1.0))
        / gg
        * (F.col("__st2") - F.col("__st") * F.col("__st") / gg)
    )
    scale = float(10 ** quantize)
    mean = F.col("__s").cast("double") / F.col("__n").cast("double")
    ok = (F.col("__gg") > 1) & (~F.col("__whole")) & (var >= 0)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        F.col("__n").alias("n"),
        F.col("__gg").cast("long").alias("g"),
        q6(mean / F.lit(scale)).alias("mean_q6"),
        F.when(ok, q6(F.sqrt(var) / F.lit(scale))).alias("se_q6"),
    )


def group_influence(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Per-group influence on the global mean: delta_g = theta_(-g) -
    theta, the leave-one-group-out shift — "which source/shard DRAGS
    the headline number, and by how much". The per-group table behind
    [[jackknife_group_se]]'s single SE row; sign tells direction (a
    positive delta means removing the group RAISES the mean, i.e. the
    group pulls it down).

    Exact per-group integer sums off one map-combinable aggregate;
    each delta is a single fixed-op-order float expression over four
    integers — embarrassingly parallel over the G-row table. Returns
    one row per group (group, n_g, mean_g_q6, delta_q6), delta null
    for a group owning the entire corpus.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    per = base.groupBy("__g").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum("__v").cast("long").alias("__s_g"),
    )
    tot = F.broadcast(
        per.agg(
            F.sum("n_g").cast("long").alias("__n"),
            F.sum("__s_g").cast("long").alias("__s"),
        )
    )
    scale = float(10 ** quantize)
    mean_all = F.col("__s").cast("double") / F.col("__n").cast("double")
    loo = F.try_divide(
        (F.col("__s") - F.col("__s_g")).cast("double"),
        (F.col("__n") - F.col("n_g")).cast("double"),
    )
    mean_g = F.col("__s_g").cast("double") / F.col("n_g").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return per.crossJoin(tot).select(
        F.col("__g").alias("group"),
        "n_g",
        q6(mean_g / F.lit(scale)).alias("mean_g_q6"),
        F.when(
            F.col("n_g") < F.col("__n"),
            q6((loo - mean_all) / F.lit(scale)),
        ).alias("delta_q6"),
    )


def holm_bonferroni(
    df: DataFrame,
    p_col: str,
    group_cols: tuple[str, ...] = (),
    alpha_num: int = 5,
    alpha_den: int = 100,
    quantize: int = 6,
) -> DataFrame:
    """Holm step-down FWER control over a p-value battery — the
    FAMILY-wise companion to [[bh_fdr]]: BH bounds the expected
    false-discovery fraction, Holm bounds the probability of even ONE
    false rejection (the right gate when a single wrong 'this source
    drifted' page is expensive). Uniformly more powerful than plain
    Bonferroni, never rejects more than BH.

    Step-down rule: walking p ascending, reject while p_(j) <=
    alpha / (m - j + 1); the first failure stops everything after it.
    INTEGER-EXACT ([[bh_fdr]]'s discipline): quantized p and rational
    alpha turn the condition into ``p_q * (m - r + 1) * alpha_den <=
    alpha_num * 10^quantize`` — BIGINT both sides. Ties share the
    MIN-rank multiplier (r = count of strictly smaller p + 1) so tied
    rows share a fate and the running-AND runs on RANGE frames —
    deterministic under any partitioning, no row_number tie gamble.

    Plan: two RANGE windows + one full-frame min per group on one
    exchange, no join back. Returns (group..., p_q, r_min, m,
    reject).
    """
    pq = _quant(F.col(p_col), quantize)
    gw = (
        Window.partitionBy(*group_cols) if group_cols else Window.partitionBy()
    )
    below = gw.orderBy("p_q").rangeBetween(Window.unboundedPreceding, -1)
    upto = gw.orderBy("p_q").rangeBetween(Window.unboundedPreceding, 0)
    full = gw.orderBy("p_q").rangeBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scale = 10**quantize
    base = (
        df.select(*group_cols, pq.alias("p_q"))
        .withColumn(
            "r_min", F.coalesce(F.count("*").over(below), F.lit(0)) + 1
        )
        .withColumn("m", F.count("*").over(full))
    )
    cond = (
        F.col("p_q")
        * (F.col("m") - F.col("r_min") + 1)
        * F.lit(int(alpha_den))
        <= F.lit(int(alpha_num)) * F.lit(scale)
    ).cast("int")
    return base.select(
        *group_cols,
        "p_q",
        F.col("r_min").cast("long").alias("r_min"),
        F.col("m").cast("long").alias("m"),
        (F.min(cond).over(upto) == 1).alias("reject"),
    )


def interrater_reliability(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    value_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Cronbach's alpha + ICC(2,1) over a subject x item value matrix —
    the internal-consistency read for any multi-signal score (k quality
    signals per document, k annotators per example): do the items move
    together enough that their SUM is a reliable scale? Alpha is the
    classic tau-equivalent bound; ICC(2,1) is the two-way random-effects
    absolute-agreement coefficient the annotation literature reports.

    Cells absent from the input are 0 by contract (a subject that never
    fired an item scored it 0), so the design is complete without an
    explicit fill: per-item and per-subject sums over present cells ARE
    the complete-matrix sums. All building blocks — G, sum x^2, row
    totals T_s, column totals C_i — are BIGINT sums of quantized
    values; alpha and the ANOVA mean squares are ONE fixed-op-order
    float expression each, so the statistic is cross-engine exact.

    Plan: one (subject, item) combinable sum shuffle, then three tiny
    aggregates (per item, per subject, grand) crossJoined as single-row
    broadcasts. Returns one row
    (n_subjects, k_items, alpha_q6, icc2_q6).
    """
    v = _quant(F.col(value_col), quantize)
    cells = (
        df.select(
            F.col(subject_col).alias("__s"),
            F.col(item_col).alias("__i"),
            v.alias("__v"),
        )
        .filter(F.col("__v").isNotNull())
        .groupBy("__s", "__i")
        .agg(F.sum("__v").cast("long").alias("__x"))
    )
    per_item = cells.groupBy("__i").agg(
        F.sum("__x").cast("long").alias("__ci"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__ci2"),
    )
    per_subj = cells.groupBy("__s").agg(
        F.sum("__x").cast("long").alias("__ts")
    )
    n_ = per_subj.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum(F.col("__ts") * F.col("__ts")).cast("long").alias("__st2"),
    )
    k_ = per_item.agg(
        F.count("*").cast("long").alias("k_items"),
        F.sum(F.col("__ci") * F.col("__ci")).cast("long").alias("__sc2"),
        # sum over items of the per-item raw second moment = global
        # sum x^2 over the complete matrix (absent cells add 0)
        F.sum("__ci2").cast("long").alias("__sx2"),
        F.sum("__ci").cast("long").alias("__g"),
    )
    j = n_.crossJoin(F.broadcast(k_))
    n = F.col("n_subjects").cast("double")
    k = F.col("k_items").cast("double")
    g = F.col("__g").cast("double")
    sx2 = F.col("__sx2").cast("double")
    st2 = F.col("__st2").cast("double")
    sc2 = F.col("__sc2").cast("double")
    cf = g * g / (n * k)
    ss_tot = sx2 - cf
    ss_rows = st2 / k - cf
    ss_cols = sc2 / n - cf
    ss_err = ss_tot - ss_rows - ss_cols
    msr = ss_rows / (n - F.lit(1.0))
    msc = ss_cols / (k - F.lit(1.0))
    mse = ss_err / ((n - F.lit(1.0)) * (k - F.lit(1.0)))
    # alpha = k/(k-1) * (1 - sum_i var_i / var_total); with sample
    # variances over subjects the 1/(n-1) factors cancel, leaving the
    # integer-sum form below
    sum_var_i = sx2 - sc2 / n
    var_t = st2 - g * g / n
    alpha = (
        k
        / (k - F.lit(1.0))
        * (F.lit(1.0) - sum_var_i / var_t)
    )
    icc2 = (msr - mse) / (
        msr
        + (k - F.lit(1.0)) * mse
        + k * (msc - mse) / n
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return j.select(
        "n_subjects",
        "k_items",
        F.when(var_t > 0, q6(alpha)).alias("alpha_q6"),
        q6(icc2).alias("icc2_q6"),
    )


def concordance_agreement(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: tuple = (),
    quantize: int = 2,
) -> DataFrame:
    """Lin's concordance correlation + Bland-Altman limits of agreement
    between two measurements of the same thing (a cheap estimator vs
    ground truth, two annotators, two model versions): CCC penalizes
    scale/location shift that Pearson r forgives — ccc = 2*Sxy / (Sxx +
    Syy + (mx - my)^2) with population moments — and Bland-Altman
    reports the bias and the +-1.96 sd band of the per-row differences,
    the "how far apart can a single reading be" number.

    x and y are quantized to integers, so every moment (sums, squares,
    cross products, difference moments) is a BIGINT aggregate; ccc,
    bias and the limits are each one fixed-op-order float expression.
    Plan: ONE combinable aggregate per group — map-side partials, no
    second pass. Returns (group..., n, ccc_q6, pearson_q6, bias_q6,
    loa_lo_q6, loa_hi_q6).
    """
    gcols = list(group_cols)
    x = _quant(F.col(x_col), quantize)
    y = _quant(F.col(y_col), quantize)
    base = df.select(*gcols, x.alias("__x"), y.alias("__y")).filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    )
    agg = base.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).cast("long").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("long").alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).cast("long").alias("__sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    sxy = F.col("__sxy").cast("double")
    # population (biased) central moments, the Lin 1989 convention
    cxx = sxx / n - (sx / n) * (sx / n)
    cyy = syy / n - (sy / n) * (sy / n)
    cxy = sxy / n - (sx / n) * (sy / n)
    dm = sx / n - sy / n
    ccc = F.lit(2.0) * cxy / (cxx + cyy + dm * dm)
    pearson = cxy / F.sqrt(cxx * cyy)
    # Bland-Altman on d = x - y with SAMPLE variance (n-1)
    sd_ = sx - sy
    sdd = sxx - F.lit(2.0) * sxy + syy
    bias = sd_ / n
    var_d = (sdd - sd_ * sd_ / n) / (n - F.lit(1.0))
    half = F.lit(1.96) * F.sqrt(var_d)
    scale = float(10 ** quantize)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *gcols,
        "n",
        q6(ccc).alias("ccc_q6"),
        q6(pearson).alias("pearson_q6"),
        q6(bias / F.lit(scale)).alias("bias_q6"),
        q6((bias - half) / F.lit(scale)).alias("loa_lo_q6"),
        q6((bias + half) / F.lit(scale)).alias("loa_hi_q6"),
    )


def inequality_indices(
    df: DataFrame,
    value_col: str,
    group_cols: tuple = (),
    quantize: int = 0,
) -> DataFrame:
    """Theil T and Atkinson(eps=1) inequality indices per group over a
    POSITIVE value column — the decomposable complements to
    [[gini_concentration]]: Theil is additively decomposable across
    subgroups (the index audit teams aggregate), Atkinson(1) reads as
    "the share of total you could discard and keep equal welfare"
    (1 - geomean/mean). Both are scale-invariant, so the integer
    quantization needs no descale.

    ln terms accumulate in FIXED value order via the stepped-window
    discipline: per-group cumulative sums
    over the DISTINCT-value count table (bounded by the quantization
    grid, not row count), last row taken. Zero/negative values are
    excluded by definition on both engines. One (group, value) count
    shuffle + one group-keyed window. Returns
    (group..., n, theil_q6, atkinson_q6).
    """
    gcols = list(group_cols)
    v = _quant(F.col(value_col), quantize)
    vg = (
        df.select(*gcols, v.alias("__v"))
        .filter(F.col("__v") > 0)
        .groupBy(*gcols, "__v")
        .agg(F.count("*").cast("long").alias("__c"))
    )
    wfull = Window.partitionBy(*gcols)
    cells = vg.select(
        *gcols,
        "__v",
        "__c",
        F.sum("__c").over(wfull).cast("long").alias("__n"),
        F.sum(F.col("__c") * F.col("__v"))
        .over(wfull)
        .cast("long")
        .alias("__X"),
    )
    nd = F.col("__n").cast("double")
    xd = F.col("__X").cast("double")
    cd = F.col("__c").cast("double")
    vd = F.col("__v").cast("double")
    term_theil = cd * vd / xd * F.log(vd * nd / xd)
    term_log = cd * F.log(vd)
    ordw = Window.partitionBy(*gcols).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stepped = cells.select(
        *gcols,
        "__n",
        "__X",
        F.sum(term_theil).over(ordw).alias("__th"),
        F.sum(term_log).over(ordw).alias("__sl"),
        F.row_number()
        .over(Window.partitionBy(*gcols).orderBy("__v"))
        .alias("__rn"),
        F.count("*").over(wfull).alias("__k"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__k"))
    atk = F.lit(1.0) - F.exp(F.col("__sl") / nd) / (xd / nd)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        *gcols,
        F.col("__n").alias("n"),
        q6(F.col("__th")).alias("theil_q6"),
        q6(atk).alias("atkinson_q6"),
    )
