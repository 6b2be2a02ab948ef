"""Exact order/rank statistics that percentile()/approx_percentile
don't cover: weighted quantiles, the Mann-Whitney U rank test, Spearman
rank correlation, lag-k autocorrelation. Every estimator here is built
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

def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    quantize: int = 2,
) -> DataFrame:
    """Two-sample Mann-Whitney U test (Wilcoxon rank-sum) between
    ``group_a`` and ``group_b`` — the non-parametric "did the
    distribution shift" companion to [[ks_statistic]]: KS answers "are
    they the same shape", U answers "is one stochastically larger", and
    U/(n_a*n_b) IS the ROC-AUC of the grouping as a classifier.

    EXACT cross-engine: values are integer-quantized, and the U
    statistic is assembled from per-distinct-value counts with the
    standard tie convention (each A-row beats every B-row strictly
    below it and half-credits ties). To stay in integers we emit
    2*U: ``u2_a = Σ_v ca_v * (2 * cb_below(v) + cb_v)``. The identity
    ``u2_a + u2_b = 2 * n_a * n_b`` is pinned in tests.

    Plan shape (the 100-TB argument, same as ``ks_statistic``): one
    map-combinable count per distinct quantized value, then ONE ordered
    running sum over the distinct-value table — a single-partition
    window bounded by VALUE CARDINALITY (10^q-grained), not corpus
    size — then one scalar aggregate. No sort of the raw data, no
    per-row ranks, no join back.

    Returns one row: (n_a, n_b, u2_a, u2_b, auc_a) where auc_a =
    U_a / (n_a * n_b) floor-quantized to 6dp.

    Reference analog: the reference classifies items into pass/fail
    channels (src/services/job_processor.py:155-179); this is the
    analyst's test that the two channels differ on a metric.
    """
    v = _quant(F.col(value_col), quantize)
    g = F.col(group_col)
    pooled = df.filter(g.isin([group_a, group_b])).select(
        v.alias("v"),
        F.when(g == group_a, F.lit(1)).otherwise(F.lit(0)).alias("s"),
    )
    cnt = pooled.groupBy("v").agg(
        F.sum("s").alias("ca"), F.sum(1 - F.col("s")).alias("cb")
    )
    below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cnt.select(
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(below), F.lit(0)).alias("cb_below"),
        F.coalesce(F.sum("ca").over(below), F.lit(0)).alias("ca_below"),
    )
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(
            F.col("ca") * (2 * F.col("cb_below") + F.col("cb"))
        ).cast("long").alias("u2_a"),
        F.sum(
            F.col("cb") * (2 * F.col("ca_below") + F.col("ca"))
        ).cast("long").alias("u2_b"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "u2_a",
        "u2_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor(
                F.col("u2_a")
                / (2.0 * F.col("n_a") * F.col("n_b"))
                * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("auc_a"),
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


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival curve over (duration, event) observations
    — the censoring-aware "how long until users convert / sessions die"
    estimator (event=1 observed, event=0 right-censored). Classic
    product-limit: S(t) = Π_{t_i ≤ t} (1 − d_i / n_i) over event
    times, with censored rows leaving the risk set but contributing no
    factor.

    Cross-engine exactness construction (the repo's signature move):
    the per-step factor becomes an INTEGER — each step's
    ``floor(ln(1 − d/n) · 1e9)`` is a BIGINT computed from exact
    integer d and n (one deterministic libm call per distinct time,
    identical in both engines on identical integers), and the running
    product becomes a running SUM of those integers, which is
    order-independent. The emitted survival is ``exp(cum / 1e9)``
    floor-6dp — a "1e-9-quantized-log Kaplan-Meier", bit-stable by
    construction where a float running product could drift with the
    engine's window-aggregation tree. When d == n (everyone left dies
    at the last time) survival is exactly 0 from that time on.

    Plan: one count per distinct (duration, outcome) — map-combinable —
    then ONE ordered running window over the distinct-duration table
    (bounded by duration cardinality, not rows; quantize durations
    upstream for continuous clocks — the binned-KM monitoring systems
    use). Returns (duration, n_at_risk, d_events, c_censored,
    survival_q) for event rows AND censor-only rows (survival carries
    through unchanged there).
    """
    dur = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    cnt = (
        df.select(dur.alias("t"), ev.alias("e"))
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(
            F.sum("e").cast("long").alias("d"),
            F.sum(1 - F.col("e")).cast("long").alias("c"),
        )
    )
    total = F.broadcast(
        cnt.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    )
    before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = cnt.crossJoin(total).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(before), F.lit(0)
            )
        ).alias("n"),
    )
    # integer-quantized log step; NULL marks the S=0 absorbing state
    step = F.when(
        F.col("d") == 0, F.lit(0).cast("long")
    ).when(
        F.col("d") < F.col("n"),
        F.floor(
            F.log(F.lit(1.0) - F.col("d") / F.col("n")) * F.lit(1e9)
        ).cast("long"),
    )
    upto = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = risk.select(
        "t",
        "n",
        "d",
        "c",
        F.sum(step).over(upto).alias("__cum"),
        F.max((F.col("d") >= F.col("n")).cast("int"))
        .over(upto)
        .alias("__dead"),
    )
    return stepped.select(
        F.col("t").alias("duration"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(F.col("__dead") == 1, F.lit(0.0))
        .otherwise(
            F.floor(F.exp(F.col("__cum") / F.lit(1e9)) * F.lit(1e6))
            / F.lit(1e6)
        )
        .alias("survival_q"),
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


def theil_sen_slope(
    df: DataFrame,
    group_cols: tuple[str, ...],
    x_col: str,
    y_col: str,
    quantize: int = 6,
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes ``(y_j - y_i)/(x_j - x_i)`` over pairs with ``x_i < x_j`` —
    the estimator that shrugs off ~29% outlier contamination where OLS
    (``q_trend_per_group``) follows every spike; the robust "is this
    user's metric drifting" reading.

    Exactness: y is round-quantized to BIGINT (``10^quantize``), x must
    already be integer-valued (quantize timestamps to a coarse clock
    upstream); each pair's slope is ONE double division of exact ints
    floored to a BIGINT (already in ppm units when y is 1e6-quantized),
    and the LOWER MEDIAN is picked by the exact integer reach test of
    [[weighted_quantile]] — no float ordering anywhere. Equal-x pairs
    are excluded (the standard Theil-Sen convention; a vertical pair
    has no slope).

    Plan: the pair generation is a self-equi-join on the GROUP key
    (per-group O(k^2), the bounded-group contract shared with
    ``cooccur_lift`` — cap or sample oversized groups upstream), then
    the median via one group-keyed window. Returns (group..., n_pairs,
    slope_ppm).
    """
    yq = _quant(F.col(y_col), quantize)
    xi = F.col(x_col).cast("long")
    base = df.select(
        *group_cols, xi.alias("__x"), yq.alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    a = base
    b = base
    for c in ("__x", "__y"):
        b = b.withColumnRenamed(c, c + "2")
    pairs = a.join(b, list(group_cols)).filter(
        F.col("__x") < F.col("__x2")
    )
    slopes = pairs.select(
        *group_cols,
        F.floor(
            (F.col("__y2") - F.col("__y")).cast("double")
            / (F.col("__x2") - F.col("__x")).cast("double")
        ).cast("long").alias("__s"),
        F.lit(1).alias("__w"),
    )
    med = weighted_quantile(
        slopes, "__s", "__w", tuple(group_cols), q_num=1, q_den=2
    )
    return med.select(
        *group_cols,
        F.col("total_w").alias("n_pairs"),
        F.col("wq_value").alias("slope_ppm"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    class_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-group extension of
    [[mann_whitney_u]]: "did ANY of these cohorts' distributions shift"
    across an arbitrary number of classes (source buckets, quality
    tiers, order priorities), where Mann-Whitney only compares two.
    H = 12/(N(N+1)) * sum_g R_g^2/n_g - 3(N+1) on midranks, with the
    standard tie correction H / (1 - sum(t^3-t)/(N^3-N)).

    EXACT cross-engine, same construction discipline as
    [[mann_whitney_u]]: values integer-quantized; per-(value, class)
    counts are map-combinable; midranks come from the running count
    over the DISTINCT-VALUE table (doubled to stay integral: ``r2 =
    2*c_below + t + 1``); each class's doubled rank sum ``R2_g`` is an
    exact BIGINT. The float H is then assembled from those exact
    integers with a FIXED summation order — per-class terms
    ``(R2_g/2)^2/n_g`` are accumulated by an ordered window over the
    class key (the [[kaplan_meier]] "stepped" pattern), so both engines
    add the same doubles left-to-right and agree bit-for-bit before the
    floor-6dp quantization.

    Plan: one count aggregate keyed by (value, class) — combinable —
    then windows over the distinct-value table (bounded by value
    cardinality, never corpus size) and the class table (bounded by
    class cardinality). No raw-row sort, no join back. Returns one row:
    (n, k, tie3, h_q6, h_tie_q6); h_tie_q6 is null when every value is
    identical (the tie term consumes the whole denominator).
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(v.alias("__v"), F.col(class_col).alias("__g")).filter(
        F.col("__v").isNotNull() & F.col("__g").isNotNull()
    )
    vg = base.groupBy("__v", "__g").agg(F.count("*").alias("__c"))
    # distinct-value table: total count per value + running count below
    vt = vg.groupBy("__v").agg(F.sum("__c").alias("__t"))
    below = Window.orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    vt = vt.select(
        "__v",
        "__t",
        F.coalesce(F.sum("__t").over(below), F.lit(0)).alias("__cb"),
    )
    # doubled midrank per value: 2*c_below + t + 1 (integral)
    ranked = vg.join(vt, "__v").select(
        "__g",
        "__c",
        (2 * F.col("__cb") + F.col("__t") + 1).alias("__r2"),
        "__t",
    )
    per_class = ranked.groupBy("__g").agg(
        F.sum("__c").cast("long").alias("__n_g"),
        F.sum(F.col("__c") * F.col("__r2")).cast("long").alias("__R2"),
    )
    # fixed-order float accumulation of (R2/2)^2 / n_g over the class key
    ordw = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    full = Window.orderBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = per_class.select(
        F.sum(
            (F.col("__R2").cast("double") / F.lit(2.0))
            * (F.col("__R2").cast("double") / F.lit(2.0))
            / F.col("__n_g").cast("double")
        )
        .over(ordw)
        .alias("__s"),
        F.row_number().over(Window.orderBy("__g")).alias("__rn"),
        F.count("*").over(full).alias("__k"),
    )
    s_final = stepped.filter(F.col("__rn") == F.col("__k")).select(
        "__s", F.col("__k").cast("long").alias("__kk")
    )
    ties = vt.agg(
        F.sum("__t").cast("long").alias("n"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).cast("long").alias("tie3"),
    )
    n = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("__s") / (n * (n + F.lit(1.0)))
        - F.lit(3.0) * (n + F.lit(1.0))
    )
    denom = F.lit(1.0) - F.col("tie3").cast("double") / (
        n * n * n - n
    )
    return (
        ties.crossJoin(s_final)
        .select(
            F.col("n"),
            F.col("__kk").alias("k"),
            F.col("tie3"),
            (F.floor(h * F.lit(1e6)) / F.lit(1e6)).alias("h_q6"),
            F.when(
                denom > 0, F.floor(h / denom * F.lit(1e6)) / F.lit(1e6)
            ).alias("h_tie_q6"),
        )
    )


def mann_kendall(
    df: DataFrame,
    group_cols: tuple[str, ...],
    x_col: str,
    value_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Mann-Kendall trend test per group — the non-parametric "is this
    metric monotonically drifting" companion to [[theil_sen_slope]]
    (MK decides WHETHER there is a trend, Theil-Sen estimates its
    size): S = sum over time-ordered pairs of sign(v_j - v_i), with
    the tie-corrected variance Var(S) = (n(n-1)(2n+5)
    - sum_t t(t-1)(2t+5)) / 18 and the standard continuity-corrected
    Z = (S -/+ 1)/sqrt(Var).

    Exactness: values integer-quantized, S and the variance numerator
    are pure BIGINT sums over the pair/tie tables; the only float is
    the final Z emit (one sqrt of an exact integer ratio), floor-6dp.

    Plan: pair generation is a self-equi-join on the GROUP key — the
    bounded-group contract shared with [[theil_sen_slope]] (per-group
    O(k^2); cap or sample oversized groups upstream). x must order the
    series uniquely within a group (equal-x pairs are excluded, the MK
    convention for simultaneous observations). Returns (group...,
    n, s_stat, var18, z_q6) where var18 = 18*Var(S) as an exact
    BIGINT and z_q6 is null when the variance is zero.
    """
    vq = _quant(F.col(value_col), quantize)
    xi = F.col(x_col).cast("long")
    base = df.select(
        *group_cols, xi.alias("__x"), vq.alias("__v")
    ).filter(F.col("__x").isNotNull() & F.col("__v").isNotNull())
    b = base
    for c in ("__x", "__v"):
        b = b.withColumnRenamed(c, c + "2")
    pairs = base.join(b, list(group_cols)).filter(
        F.col("__x") < F.col("__x2")
    )
    s_tab = pairs.groupBy(*group_cols).agg(
        F.sum(
            F.when(F.col("__v2") > F.col("__v"), F.lit(1))
            .when(F.col("__v2") < F.col("__v"), F.lit(-1))
            .otherwise(F.lit(0))
        ).cast("long").alias("s_stat")
    )
    counts = base.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n")
    )
    tie_tab = (
        base.groupBy(*group_cols, "__v")
        .agg(F.count("*").alias("__t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).cast("long").alias("__tt")
        )
    )
    gl = list(group_cols)
    n = F.col("n")
    var18 = (
        n * (n - 1) * (2 * n + 5) - F.col("__tt")
    ).cast("long")
    out = (
        counts.join(s_tab, gl)
        .join(tie_tab, gl)
        .select(
            *gl,
            "n",
            "s_stat",
            var18.alias("var18"),
        )
    )
    s = F.col("s_stat").cast("double")
    v18 = F.col("var18").cast("double")
    z = F.when(
        F.col("var18") > 0,
        (
            s
            - F.when(F.col("s_stat") > 0, F.lit(1.0))
            .when(F.col("s_stat") < 0, F.lit(-1.0))
            .otherwise(F.lit(0.0))
        )
        / F.sqrt(v18 / F.lit(18.0)),
    )
    return out.select(
        *gl,
        "n",
        "s_stat",
        "var18",
        (F.floor(z * F.lit(1e6)) / F.lit(1e6)).alias("z_q6"),
    )


def cusum_drift(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    target_q: int,
    slack_q: int = 0,
    threshold_q: int | None = None,
    quantize: int = 2,
) -> DataFrame:
    """One-sided upper CUSUM drift monitor per group: the classic
    recursion ``S_i = max(0, S_{i-1} + x_i - (target + slack))``
    re-expressed as PURE prefix arithmetic — ``S_i = P_i - min_{j<=i}
    P_j`` where P is the running sum of quantized deviations — so the
    whole monitor is two ordered windows over exact BIGINTs, no
    recursion, no UDF, no float until nothing (the statistic itself
    stays integral in quantized units).

    ``target_q``/``slack_q``/``threshold_q`` are given ALREADY
    QUANTIZED (units of 10^-quantize), keeping the contract integral
    end-to-end: alarm rows are those with ``cusum_q > threshold_q``
    (no alarm column when threshold_q is None). The first-alarm index
    per group is what a drift postmortem reads
    ([[changepoint_single]] localizes it after the fact; CUSUM is the
    ONLINE detector you'd run in the streaming twin).

    Returns one row per input row: (group..., idx, v_q, cusum_q[,
    alarm]) with 1-based idx in the stable order.
    """
    vq = _quant(F.col(value_col), quantize)
    ow = [F.col(c).asc() for c in order_cols]
    w_ord = Window.partitionBy(*group_cols).orderBy(*ow)
    run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev = vq - F.lit(int(target_q) + int(slack_q))
    base = df.select(
        *group_cols,
        F.row_number().over(w_ord).alias("idx"),
        vq.alias("v_q"),
        F.sum(dev).over(run).alias("__p"),
    )
    prior_min = F.min(
        F.least(F.col("__p"), F.lit(0))
    ).over(
        Window.partitionBy(*group_cols)
        .orderBy("idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = base.select(
        *group_cols,
        "idx",
        "v_q",
        (F.col("__p") - prior_min).cast("long").alias("cusum_q"),
    )
    if threshold_q is not None:
        out = out.withColumn(
            "alarm", (F.col("cusum_q") > F.lit(int(threshold_q)))
        )
    return out


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
    registry (Mann-Whitney per cohort, chi² per term, MK per user)
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


def cusum_batch_state(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    target_q: int,
    slack_q: int = 0,
    quantize: int = 2,
) -> DataFrame:
    """Per-group ASSOCIATIVE state of the [[cusum_drift]] recursion over
    one data segment — the piece that makes CUSUM streamable. For a
    segment with quantized deviations d_i, the recursion
    ``S_i = max(0, S_{i-1} + d_i)`` composes as ``S_end =
    max(S_start + T, G)`` where ``T = sum(d)`` and ``G = max(0, T -
    min(0, P_0..P_{n-1}))`` (P = in-segment prefix sums) — so a
    micro-batch can be summarized by the BIGINT pair (t_sum, g_max)
    and batches fold left-to-right without replaying rows. The
    identity (fold of per-segment states == last-row cusum_drift of
    the concatenation, for EVERY split) is pinned in tests.

    One window for the prefix sums + one group aggregate. Returns
    (group..., n, t_sum, g_max).
    """
    vq = _quant(F.col(value_col), quantize)
    ow = [F.col(c).asc() for c in order_cols]
    w_ord = Window.partitionBy(*group_cols).orderBy(*ow)
    run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dev = vq - F.lit(int(target_q) + int(slack_q))
    base = df.select(
        *group_cols,
        F.sum(dev).over(run).alias("__p"),
        F.row_number().over(w_ord).alias("__rn"),
        F.count("*").over(Window.partitionBy(*group_cols)).alias("__n"),
    )
    return base.groupBy(*group_cols).agg(
        F.max("__n").cast("long").alias("n"),
        F.max(
            F.when(F.col("__rn") == F.col("__n"), F.col("__p"))
        ).cast("long").alias("t_sum"),
        F.greatest(
            F.lit(0).cast("long"),
            (
                F.max(
                    F.when(F.col("__rn") == F.col("__n"), F.col("__p"))
                )
                - F.min(
                    F.when(
                        F.col("__rn") < F.col("__n"),
                        F.least(F.col("__p"), F.lit(0)),
                    ).otherwise(F.lit(0))
                )
            ).cast("long"),
        ).alias("g_max"),
    )


def cusum_fold_states(
    states: DataFrame,
    group_cols: tuple[str, ...],
    seq_col: str = "batch_id",
    threshold_q: int | None = None,
) -> DataFrame:
    """Fold per-segment [[cusum_batch_state]] rows in ``seq_col`` order
    into the running CUSUM after each segment: ``S_k = CT_k +
    max(0, max_{j<=k}(G_j - CT_j))`` — the prefix-minus-running-extremum
    trick a second time, now over the (tiny) per-batch state table, so
    the fold is two windows, no recursion, no driver loop. Returns one
    row per (group..., seq) with ``cusum_q`` the statistic at the END
    of that segment (+ ``alarm`` when ``threshold_q`` given) — the
    batch-granular alarm feed a streaming monitor reads.
    """
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(seq_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_ct = states.withColumn("__ct", F.sum("t_sum").over(w))
    out = with_ct.withColumn(
        "cusum_q",
        (
            F.col("__ct")
            + F.greatest(
                F.lit(0).cast("long"),
                F.max(F.col("g_max") - F.col("__ct")).over(w),
            )
        ).cast("long"),
    ).drop("__ct")
    if threshold_q is not None:
        out = out.withColumn(
            "alarm", F.col("cusum_q") > F.lit(int(threshold_q))
        )
    return out


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


def kendall_tau_b(
    df: DataFrame,
    group_cols: tuple[str, ...],
    x_col: str,
    y_col: str,
    id_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Kendall tau-b rank correlation per group between two VALUE
    columns — where [[mann_kendall]] tests value-vs-time (its S is the
    tau numerator against the clock), tau-b measures concordance
    between two metrics (quality score vs length, price vs quantity)
    with the tie-corrected denominator: tau_b = S / sqrt((n0-n1)(n0-n2)),
    n0 = C(n,2), n1/n2 = sum of C(t,2) over x/y tie runs.

    Exactness: both values integer-quantized; pairs are enumerated ONCE
    via the strict id ordering ``id < id2`` (any unique row key — pair
    identity must not depend on value order or the tie classes double-
    count); S and the DOUBLED tie terms m0 = n(n-1), m1 = sum t(t-1),
    m2 likewise are exact BIGINTs (the halving cancels: tau_b =
    2S / sqrt((m0-m1)(m0-m2))), and the only float is the final emit.

    Plan: self-equi-join on the GROUP key — the bounded-group contract
    of [[theil_sen_slope]] (per-group O(k^2): cap or sample oversized
    groups upstream); tie tables are map-combinable re-aggregations of
    the base. Returns (group..., n, s_stat, m0, m1, m2, tau_q6); tau_q6
    null when either margin is all-ties.
    """
    xq = _quant(F.col(x_col), quantize)
    yq = _quant(F.col(y_col), quantize)
    base = df.select(
        *group_cols,
        F.col(id_col).alias("__id"),
        xq.alias("__x"),
        yq.alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    b = base
    for c in ("__id", "__x", "__y"):
        b = b.withColumnRenamed(c, c + "2")
    pairs = base.join(b, list(group_cols)).filter(
        F.col("__id") < F.col("__id2")
    )
    sgn = lambda a, bb: (  # noqa: E731
        F.when(a > bb, F.lit(1)).when(a < bb, F.lit(-1)).otherwise(F.lit(0))
    )
    s_tab = pairs.groupBy(*group_cols).agg(
        F.sum(
            sgn(F.col("__x2"), F.col("__x"))
            * sgn(F.col("__y2"), F.col("__y"))
        ).cast("long").alias("s_stat")
    )
    counts = base.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n")
    )

    def _tie(col):
        return (
            base.groupBy(*group_cols, col)
            .agg(F.count("*").alias("__t"))
            .groupBy(*group_cols)
            .agg(
                F.sum(F.col("__t") * (F.col("__t") - 1))
                .cast("long")
                .alias("__m")
            )
        )

    gl = list(group_cols)
    out = (
        counts.join(s_tab, gl)
        .join(_tie("__x").withColumnRenamed("__m", "m1"), gl)
        .join(_tie("__y").withColumnRenamed("__m", "m2"), gl)
        .withColumn("m0", (F.col("n") * (F.col("n") - 1)).cast("long"))
    )
    den = (
        (F.col("m0") - F.col("m1")).cast("double")
        * (F.col("m0") - F.col("m2")).cast("double")
    )
    tau = F.when(
        (F.col("m0") > F.col("m1")) & (F.col("m0") > F.col("m2")),
        F.lit(2.0) * F.col("s_stat").cast("double") / F.sqrt(den),
    )
    return out.select(
        *gl,
        "n",
        "s_stat",
        "m0",
        "m1",
        "m2",
        (F.floor(tau * F.lit(1e6)) / F.lit(1e6)).alias("tau_q6"),
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
    trends is the identifying assumption — test it upstream with
    [[mann_kendall]] on the pre period).

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


def cliffs_delta(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    quantize: int = 2,
) -> DataFrame:
    """Cliff's delta effect size between ``group_a`` and ``group_b`` —
    the companion [[mann_whitney_u]] needs before anyone acts on its
    p-value: delta = (#(a>b) - #(a<b)) / (n_a*n_b) in [-1, 1], the
    probability a random A-row beats a random B-row minus the reverse
    (delta = 2*AUC - 1). Significance without magnitude gates nothing
    at corpus scale, where every test is "significant".

    EXACT cross-engine: the same distinct-quantized-value count table
    and running sums as mann_whitney_u — delta_num = sum_v ca_v *
    (cb_below - cb_above) stays BIGINT, and the Romano magnitude band
    is decided by INTEGER cross-multiplication (|num|*1000 vs
    threshold*n_a*n_b — no float compare at a band boundary ever).
    Plan: one map-combinable count per distinct value, one ordered
    window over the distinct-value table (bounded by value cardinality,
    not corpus size), one scalar aggregate. Returns one row
    (n_a, n_b, delta_num, delta_q6, magnitude).
    """
    v = _quant(F.col(value_col), quantize)
    g = F.col(group_col)
    pooled = df.filter(g.isin([group_a, group_b])).select(
        v.alias("v"),
        F.when(g == group_a, F.lit(1)).otherwise(F.lit(0)).alias("s"),
    )
    cnt = pooled.groupBy("v").agg(
        F.sum("s").alias("ca"), F.sum(1 - F.col("s")).alias("cb")
    )
    below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    above = Window.orderBy("v").rowsBetween(1, Window.unboundedFollowing)
    cum = cnt.select(
        "ca",
        F.coalesce(F.sum("cb").over(below), F.lit(0)).alias("cb_below"),
        F.coalesce(F.sum("cb").over(above), F.lit(0)).alias("cb_above"),
        "cb",
    )
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * (F.col("cb_below") - F.col("cb_above")))
        .cast("long")
        .alias("delta_num"),
    )
    nn = F.col("n_a") * F.col("n_b")
    an = F.abs(F.col("delta_num")) * 1000
    mag = (
        F.when(an < 147 * nn, F.lit("negligible"))
        .when(an < 330 * nn, F.lit("small"))
        .when(an < 474 * nn, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return agg.select(
        "n_a",
        "n_b",
        "delta_num",
        F.when(
            nn > 0,
            F.floor(
                F.col("delta_num").cast("double") / nn.cast("double")
                * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("delta_q6"),
        F.when(nn > 0, mag).alias("magnitude"),
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


def hodges_lehmann(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    quantize: int = 2,
) -> DataFrame:
    """Hodges-Lehmann location estimator per group — the median of all
    Walsh averages (x_i + x_j)/2 over i <= j: the robust "where is this
    distribution centered" number that keeps ~96% of the mean's
    efficiency under normality yet shrugs off the heavy tails every
    scraped-corpus metric has (the one-sample companion to
    [[theil_sen_slope]], and the location the Wilcoxon signed-rank
    test inverts to).

    EXACT cross-engine, and NOT the bounded-group O(k^2) contract: the
    Walsh multiset is built from the per-(group, value) COUNT table —
    same-value pairs contribute c*(c+1)/2, cross-value pairs c1*c2 —
    so the self-join is V x V on DISTINCT QUANTIZED VALUES (bounded by
    value cardinality, 10^q-grained), never row x row. The median of
    that weighted multiset comes from the integer rank-reach test
    (lower+upper order statistics); med4 = W_lo + W_hi
    (odd N: 2*W_mid) stays BIGINT in doubled-Walsh units, HL =
    med4 / (4 * 10^q). Returns (group..., n, n_walsh, med4, hl_q6).
    """
    v = _quant(F.col(value_col), quantize)
    gl = list(group_cols)
    base = df.select(*gl, v.alias("__v")).filter(F.col("__v").isNotNull())
    cnt = base.groupBy(*gl, "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    rhs = cnt.select(
        *gl,
        F.col("__v").alias("__v2"),
        F.col("__c").alias("__c2"),
    )
    pairs = (
        cnt.join(rhs, gl)
        if gl
        else cnt.crossJoin(rhs)
    ).filter(F.col("__v") <= F.col("__v2"))
    walsh = pairs.select(
        *gl,
        (F.col("__v") + F.col("__v2")).alias("__w2"),
        F.when(
            F.col("__v") == F.col("__v2"),
            (F.col("__c") * (F.col("__c") + 1) / 2).cast("long"),
        )
        .otherwise(F.col("__c") * F.col("__c2"))
        .alias("__pc"),
    ).groupBy(*gl, "__w2").agg(F.sum("__pc").cast("long").alias("__pc"))
    wg = Window.partitionBy(*gl).orderBy("__w2").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = walsh.select(
        *gl,
        "__w2",
        "__pc",
        F.coalesce(F.sum("__pc").over(wg), F.lit(0)).alias("__cb"),
        F.sum("__pc").over(Window.partitionBy(*gl)).alias("__nw"),
    )
    lo = F.floor((F.col("__nw") + 1) / 2)
    hi = F.floor(F.col("__nw") / 2) + 1
    hits = (
        F.when(
            (F.col("__cb") < lo) & (F.col("__cb") + F.col("__pc") >= lo), 1
        ).otherwise(0)
        + F.when(
            (F.col("__cb") < hi) & (F.col("__cb") + F.col("__pc") >= hi), 1
        ).otherwise(0)
    )
    med = ranked.groupBy(*gl).agg(
        F.max("__nw").alias("n_walsh"),
        F.sum(F.col("__w2") * hits).cast("long").alias("med4"),
    )
    n_tab = base.groupBy(*gl).agg(F.count("*").cast("long").alias("n"))
    out = (
        n_tab.join(med, gl) if gl else n_tab.crossJoin(med)
    )
    hl = F.col("med4").cast("double") / F.lit(float(4 * 10**quantize))
    return out.select(
        *gl,
        "n",
        "n_walsh",
        "med4",
        (F.floor(hl * F.lit(1e6)) / F.lit(1e6)).alias("hl_q6"),
    )


def page_trend_test(
    df: DataFrame,
    subject_col: str,
    treatment_col: str,
    value_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Page's L test — Friedman's test sharpened to an ORDERED
    alternative: with treatments ordered (dose levels, model
    generations, context lengths), L = sum_j j * R_j is large when
    values rise along the ordering — the within-subject twin of
    [[jonckheere_terpstra]]. Treatment order is the natural ordering
    of ``treatment_col``; ordinals are dense ranks over the k-row
    distinct-treatment table (broadcast back).

    EXACT cross-engine: the within-subject DOUBLED average ranks of
    Friedman's test keep L2 = sum ord_j * r2 a BIGINT; the no-tie null
    moments stay integral as e4 = n*k*(k+1)^2 (4x mean) and v144 =
    n*k^2*(k+1)*(k^2-1) (144x variance), giving z = 3*(2*L2 - e4) /
    sqrt(v144) as ONE float expression. Returns one row
    (n_subjects, k, l2, z_q6); z null when v144 = 0 (k < 2 or no
    subjects). With heavy ties z is approximate (same caveat as JT);
    L2 itself is tie-exact.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        F.col(subject_col).alias("__subj"),
        F.col(treatment_col).alias("__trt"),
        v.alias("__v"),
    ).filter(F.col("__v").isNotNull())
    w = Window.partitionBy("__subj").orderBy("__v")
    wt = Window.partitionBy("__subj", "__v")
    ranked = base.select(
        "__subj",
        "__trt",
        (2 * F.rank().over(w) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("__r2"),
    )
    ords = (
        base.select("__trt")
        .distinct()
        .select(
            "__trt",
            F.dense_rank()
            .over(Window.orderBy("__trt"))
            .cast("long")
            .alias("__ord"),
        )
    )
    j = ranked.join(F.broadcast(ords), "__trt")
    agg = j.agg(
        F.sum(F.col("__ord") * F.col("__r2")).cast("long").alias("l2"),
        F.countDistinct("__subj").cast("long").alias("n_subjects"),
        F.countDistinct("__trt").cast("long").alias("k"),
    )
    e4 = (
        F.col("n_subjects")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") + 1)
    )
    v144 = (
        F.col("n_subjects")
        * F.col("k")
        * F.col("k")
        * (F.col("k") + 1)
        * (F.col("k") * F.col("k") - 1)
    )
    z = (
        F.lit(3.0)
        * (2 * F.col("l2") - e4).cast("double")
        / F.sqrt(v144.cast("double"))
    )
    return agg.select(
        "n_subjects",
        "k",
        "l2",
        F.when(
            v144 > 0, F.floor(z * F.lit(1e6)) / F.lit(1e6)
        ).alias("z_q6"),
    )


def runs_test(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: tuple[str, ...] = (),
    quantize: int = 2,
) -> DataFrame:
    """Wald-Wolfowitz runs test per group — "is this sequence random,
    or does it streak": dichotomize each value against the group
    median, count runs (maximal same-side streaks in ``order_col``
    order), compare with the null moments given n1 above / n2 below.
    Too FEW runs = clustering/regime behavior (a generator gone
    sticky, a scraper stuck on one site); too many = oscillation.
    The sequence-shaped complement of [[mann_kendall]] (which reads
    monotone trend, not streakiness).

    EXACT cross-engine: the group median is the DOUBLED med2 = v_lo +
    v_hi from the integer rank-reach test, so the
    above/below split (2v > med2 / 2v < med2) never touches a float;
    exact-median values are EXCLUDED (the standard treatment). Runs
    are counted as 1 + sum(side != lag(side)) in ONE ordered window
    per group; moments stay integral: E[R] = 1 + 2*n1*n2/n exactly as
    mean_num/n, Var = 2n1n2(2n1n2-n) / (n^2(n-1)) as var_num/var_den.
    Returns (group..., n1, n2, runs, z_q6); z null when n1*n2 = 0
    (one-sided group — no sequence to test).
    """
    v = _quant(F.col(value_col), quantize)
    gl = list(group_cols)
    base = df.select(
        *gl, F.col(order_col).alias("__o"), v.alias("__v")
    ).filter(F.col("__v").isNotNull())
    vg = base.groupBy(*gl, "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    wg = Window.partitionBy(*gl).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = vg.select(
        *gl,
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(wg), F.lit(0)).alias("__cb"),
        F.sum("__c").over(Window.partitionBy(*gl)).alias("__n_g"),
    )
    lo = F.floor((F.col("__n_g") + 1) / 2)
    hi = F.floor(F.col("__n_g") / 2) + 1
    hits = (
        F.when(
            (F.col("__cb") < lo) & (F.col("__cb") + F.col("__c") >= lo), 1
        ).otherwise(0)
        + F.when(
            (F.col("__cb") < hi) & (F.col("__cb") + F.col("__c") >= hi), 1
        ).otherwise(0)
    )
    med = ranked.groupBy(*gl).agg(
        F.sum(F.col("__v") * hits).cast("long").alias("__med2")
    )
    sided = (
        base.join(F.broadcast(med), gl) if gl else base.crossJoin(
            F.broadcast(med)
        )
    ).select(
        *gl,
        "__o",
        F.when(2 * F.col("__v") > F.col("__med2"), F.lit(1))
        .when(2 * F.col("__v") < F.col("__med2"), F.lit(0))
        .alias("__side"),
    ).filter(F.col("__side").isNotNull())
    ws = Window.partitionBy(*gl).orderBy("__o")
    seq = sided.select(
        *gl,
        "__side",
        F.lag("__side").over(ws).alias("__prev"),
    )
    agg = seq.groupBy(*gl).agg(
        F.sum("__side").cast("long").alias("n1"),
        F.sum(1 - F.col("__side")).cast("long").alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (F.col("__side") != F.col("__prev")),
                    1,
                ).otherwise(0)
            )
        ).cast("long").alias("runs"),
    )
    n = F.col("n1") + F.col("n2")
    two = 2 * F.col("n1") * F.col("n2")
    mean_r = F.lit(1.0) + two.cast("double") / n.cast("double")
    var_r = (
        two.cast("double")
        * (two - n).cast("double")
        / (n * n * (n - 1)).cast("double")
    )
    z = (F.col("runs").cast("double") - mean_r) / F.sqrt(var_r)
    return agg.select(
        *gl,
        "n1",
        "n2",
        "runs",
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0) & (n > 2)
            & (two > n),
            F.floor(z * F.lit(1e6)) / F.lit(1e6),
        ).alias("z_q6"),
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


def mood_median_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Mood's median test across k groups — the coarse, outlier-immune
    "do the groups share a median" check: dichotomize every value
    against the GRAND median, then chi-square the k x 2 (above/below)
    table. Less powerful than [[kruskal_wallis]] but valid under wild
    tail differences (KW assumes similar shapes); run it when the
    per-group distributions look nothing alike.

    EXACT cross-engine: the grand median is the DOUBLED med2 = v_lo +
    v_hi integer rank-reach selection over the distinct-value count
    table; exact-median values are EXCLUDED (the standard treatment,
    same as [[runs_test]]); per-group above/below counts are BIGINTs;
    the chi-square statistic accumulates per-group terms in FIXED
    group-key order via an ordered window (the stepped-sum
    discipline) so both engines add identical doubles. Returns one row
    (n, k, above_total, chi2_q6); null when a margin is empty (all
    values on one side — the test is vacuous).
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(F.col(group_col).alias("__g"), v.alias("__v")).filter(
        F.col("__g").isNotNull() & F.col("__v").isNotNull()
    )
    vc = base.groupBy("__v").agg(F.count("*").cast("long").alias("__c"))
    wb = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vc.select(
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__cb"),
        F.sum("__c").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    lo = F.floor((F.col("__n") + 1) / 2)
    hi = F.floor(F.col("__n") / 2) + 1
    hits = (
        F.when((F.col("__cb") < lo) & (F.col("__cb") + F.col("__c") >= lo), 1)
        .otherwise(0)
        + F.when(
            (F.col("__cb") < hi) & (F.col("__cb") + F.col("__c") >= hi), 1
        ).otherwise(0)
    )
    med = ranked.agg(
        F.sum(F.col("__v") * hits).cast("long").alias("__med2")
    )
    sided = base.crossJoin(F.broadcast(med)).select(
        "__g",
        F.when(2 * F.col("__v") > F.col("__med2"), F.lit(1))
        .when(2 * F.col("__v") < F.col("__med2"), F.lit(0))
        .alias("__side"),
    ).filter(F.col("__side").isNotNull())
    per_g = sided.groupBy("__g").agg(
        F.sum("__side").cast("long").alias("__a"),
        F.sum(1 - F.col("__side")).cast("long").alias("__b"),
    )
    tot = per_g.agg(
        F.sum("__a").cast("long").alias("__ta"),
        F.sum("__b").cast("long").alias("__tb"),
        F.count("*").cast("long").alias("__k"),
        F.sum(F.col("__a") + F.col("__b")).cast("long").alias("__nn"),
    )
    j = per_g.crossJoin(F.broadcast(tot))
    # chi2 term per group, both cells: sum over (g, side) of
    # (obs - exp)^2 / exp with exp = n_g * side_total / N — accumulated
    # in fixed group order via an ordered window then max-reduced
    ng = (F.col("__a") + F.col("__b")).cast("double")
    ea = ng * F.col("__ta").cast("double") / F.col("__nn").cast("double")
    eb = ng * F.col("__tb").cast("double") / F.col("__nn").cast("double")
    # empty margin (ta or tb == 0) makes the expected count 0; the
    # statistic is nulled below anyway, so pin the term to 0 rather
    # than tripping ANSI DIVIDE_BY_ZERO
    term = F.when(
        (F.col("__ta") > 0) & (F.col("__tb") > 0),
        (F.col("__a").cast("double") - ea)
        * (F.col("__a").cast("double") - ea)
        / ea
        + (F.col("__b").cast("double") - eb)
        * (F.col("__b").cast("double") - eb)
        / eb,
    ).otherwise(F.lit(0.0))
    wg = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, 0)
    stepped = j.select(
        "__k",
        "__ta",
        "__tb",
        "__nn",
        F.sum(term).over(wg).alias("__acc"),
        F.row_number().over(Window.orderBy("__g")).alias("__rn"),
    )
    out = stepped.filter(F.col("__rn") == F.col("__k")).select(
        F.col("__nn").alias("n"),
        F.col("__k").alias("k"),
        F.col("__ta").alias("above_total"),
        F.when(
            (F.col("__ta") > 0) & (F.col("__tb") > 0) & (F.col("__k") > 1),
            F.floor(F.col("__acc") * F.lit(1e6)) / F.lit(1e6),
        ).alias("chi2_q6"),
    )
    return out


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over (duration, event)
    observations — the additive twin of [[kaplan_meier]]: H(t) =
    Σ_{t_i ≤ t} d_i / n_i. Preferred over -ln(KM) when hazard RATES
    (not survival fractions) are the deliverable, and the estimator of
    choice for crude-rate monitoring because each step is a plain
    ratio, no product-limit.

    EXACT cross-engine, stronger than KM: the per-step increment
    ``floor(d·1e9 / n)`` needs NO libm call at all — d·1e9 ≤ ~1e14
    stays exact in the double both engines divide, so the quantized
    step is bit-identical, and the running SUM of BIGINTs is
    order-independent. Emitted hazard is ``floor(cum/1e3)/1e6`` —
    pure integer arithmetic end to end.

    Plan (same as [[kaplan_meier]]): one map-combinable count per
    distinct (duration, outcome), then ONE ordered running window over
    the distinct-duration table — bounded by duration cardinality, not
    rows. Returns (duration, n_at_risk, d_events, c_censored,
    hazard_q).
    """
    dur = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    cnt = (
        df.select(dur.alias("t"), ev.alias("e"))
        .filter(F.col("t").isNotNull())
        .groupBy("t")
        .agg(
            F.sum("e").cast("long").alias("d"),
            F.sum(1 - F.col("e")).cast("long").alias("c"),
        )
    )
    total = F.broadcast(
        cnt.agg(F.sum(F.col("d") + F.col("c")).alias("n_total"))
    )
    before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = cnt.crossJoin(total).select(
        "t",
        "d",
        "c",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(before), F.lit(0)
            )
        ).alias("n"),
    )
    step = F.floor(
        F.col("d").cast("double") * F.lit(1e9) / F.col("n").cast("double")
    ).cast("long")
    upto = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = risk.select(
        "t",
        "n",
        "d",
        "c",
        F.sum(step).over(upto).alias("__cum"),
    )
    return stepped.select(
        F.col("t").alias("duration"),
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        (
            F.floor(F.col("__cum").cast("double") / F.lit(1e3))
            / F.lit(1e6)
        ).alias("hazard_q"),
    )


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-group log-rank (Mantel-Cox) test — "do these two survival
    curves differ": at each event time, compare group A's observed
    events d_a against its hypergeometric expectation d·n_a/n, then
    χ² = (O_A − E_A)² / V. The decision-maker companion to
    [[kaplan_meier]]/[[nelson_aalen]] (which only DRAW the curves).

    Two-group contract: ``group_col`` is binarized against the
    broadcast 1-row min — the minimum value is arm A, everything else
    arm B (callers with k > 2 arms map upstream; the query passes a
    parity arm). EXACT cross-engine: d·n_a is a BIGINT (≤ ~1e10) cast
    to double once, so the E and V per-step terms are short
    fixed-order float expressions from exact integers, quantized
    ``floor(term·1e9)`` to BIGINT steps whose SUM is order-independent
    — no running float accumulation anywhere. χ² is assembled from the
    two quantized sums, null when V == 0 (no inter-group event mixing).

    Plan: one count per distinct (duration, arm, outcome) —
    map-combinable — one ordered at-risk window over the
    distinct-duration table, one 1-row aggregate. Returns
    (n_a, n_b, o_a, e_a_q6, v_q6, chi2_q6).
    """
    dur = F.col(duration_col)
    ev = F.col(event_col).cast("int")
    base = df.select(
        dur.alias("t"), ev.alias("e"), F.col(group_col).alias("g")
    ).filter(F.col("t").isNotNull() & F.col("g").isNotNull())
    gmin = F.broadcast(base.agg(F.min("g").alias("__ga")))
    tagged = base.crossJoin(gmin).select(
        "t",
        "e",
        (F.col("g") == F.col("__ga")).cast("int").alias("a"),
    )
    cnt = tagged.groupBy("t").agg(
        F.sum(F.col("e") * F.col("a")).cast("long").alias("d_a"),
        F.sum(F.col("e") * (1 - F.col("a"))).cast("long").alias("d_b"),
        F.sum((1 - F.col("e")) * F.col("a")).cast("long").alias("c_a"),
        F.sum((1 - F.col("e")) * (1 - F.col("a")))
        .cast("long")
        .alias("c_b"),
    )
    total = F.broadcast(
        cnt.agg(
            F.sum(F.col("d_a") + F.col("c_a")).alias("tot_a"),
            F.sum(F.col("d_b") + F.col("c_b")).alias("tot_b"),
        )
    )
    before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = cnt.crossJoin(total).select(
        "t",
        "d_a",
        "d_b",
        (
            F.col("tot_a")
            - F.coalesce(
                F.sum(F.col("d_a") + F.col("c_a")).over(before), F.lit(0)
            )
        ).alias("n_a"),
        (
            F.col("tot_b")
            - F.coalesce(
                F.sum(F.col("d_b") + F.col("c_b")).over(before), F.lit(0)
            )
        ).alias("n_b"),
        "tot_a",
        "tot_b",
    )
    d = F.col("d_a") + F.col("d_b")
    n = F.col("n_a") + F.col("n_b")
    # E step: (d * n_a) is an exact BIGINT; one division, one scale
    e_step = F.floor(
        (d * F.col("n_a")).cast("double") / n.cast("double") * F.lit(1e9)
    ).cast("long")
    # V step: d*n_a*n_b*(n-d) / (n^2*(n-1)) in a single fixed-order
    # double expression (numerator exceeds BIGINT range at scale)
    v_step = F.floor(
        (d * F.col("n_a")).cast("double")
        * F.col("n_b").cast("double")
        * (n - d).cast("double")
        / (
            n.cast("double")
            * n.cast("double")
            * (n - F.lit(1)).cast("double")
        )
        * F.lit(1e9)
    ).cast("long")
    agg = risk.filter((d > 0) & (n > 1)).agg(
        F.max("tot_a").cast("long").alias("n_a"),
        F.max("tot_b").cast("long").alias("n_b"),
        F.sum("d_a").cast("long").alias("o_a"),
        F.sum(e_step).alias("__e9"),
        F.sum(v_step).alias("__v9"),
    )
    e_a = F.col("__e9").cast("double") / F.lit(1e9)
    v = F.col("__v9").cast("double") / F.lit(1e9)
    chi2 = (F.col("o_a").cast("double") - e_a) * (
        F.col("o_a").cast("double") - e_a
    ) / v
    return agg.select(
        "n_a",
        "n_b",
        "o_a",
        (
            F.floor(F.col("__e9").cast("double") / F.lit(1e3)) / F.lit(1e6)
        ).alias("e_a_q6"),
        (
            F.floor(F.col("__v9").cast("double") / F.lit(1e3)) / F.lit(1e6)
        ).alias("v_q6"),
        F.when(
            F.col("__v9") > 0, F.floor(chi2 * F.lit(1e6)) / F.lit(1e6)
        ).alias("chi2_q6"),
    )


def welch_t_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Welch's unequal-variance two-sample t test — the default
    two-group mean comparison (the distribution-free twin is
    [[mann_whitney_u]]).
    Reports the t statistic AND the Welch-Satterthwaite degrees of
    freedom, plus Cohen's d on the pooled sd so the effect SIZE travels
    with the significance number.

    Two-group contract (shared with [[log_rank_test]]): ``group_col``
    is binarized against the broadcast 1-row min — the minimum value is
    arm A, everything else arm B.

    EXACT cross-engine: values integer-quantized ([[_quant]]); per-arm
    S is BIGINT and Q is DECIMAL(38,0) (v^2 sums wrap a silent
    non-ANSI long at sf0.1). Means,
    variances, t, and df are then ONE fixed-op-order float expression
    each over the six exact scalars, floor-quantized at emit. t/d are
    null when either arm has n < 2 or both variances are zero; df is
    null with t.

    Plan: one broadcast min, one map-combinable conditional aggregate
    over the tagged rows — a single 1-row exchange regardless of input
    size. Returns (n_a, n_b, mean_a_q6, mean_b_q6, t_q6, df_q6, d_q6).
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    gmin = F.broadcast(base.agg(F.min("__g").alias("__ga")))
    a = (F.col("__g") == F.col("__ga")).cast("int")
    dec = "decimal(38,0)"
    vd = F.col("__v").cast(dec)
    agg = base.crossJoin(gmin).agg(
        F.sum(a).cast("long").alias("n_a"),
        F.sum(1 - a).cast("long").alias("n_b"),
        F.sum(F.col("__v") * a).cast("long").alias("__s_a"),
        F.sum(F.col("__v") * (1 - a)).cast("long").alias("__s_b"),
        F.sum(vd * vd * a.cast(dec)).alias("__q_a"),
        F.sum(vd * vd * (1 - a).cast(dec)).alias("__q_b"),
    )
    scale = float(10 ** quantize)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # try_divide everywhere: ANSI mode raises on 0-denominators (an arm
    # with n<2, or a single-group input); nulls propagate into the
    # `ok`-gated outputs instead.
    ma = F.try_divide(F.col("__s_a").cast("double"), na)
    mb = F.try_divide(F.col("__s_b").cast("double"), nb)
    va = F.try_divide(
        F.col("__q_a").cast("double") - ma * F.col("__s_a").cast("double"),
        na - F.lit(1.0),
    )
    vb = F.try_divide(
        F.col("__q_b").cast("double") - mb * F.col("__s_b").cast("double"),
        nb - F.lit(1.0),
    )
    sea = F.try_divide(va, na)
    seb = F.try_divide(vb, nb)
    se2 = sea + seb
    t = F.try_divide(ma - mb, F.sqrt(se2))
    dfree = F.try_divide(
        se2 * se2,
        F.try_divide(sea * sea, na - F.lit(1.0))
        + F.try_divide(seb * seb, nb - F.lit(1.0)),
    )
    sp = F.sqrt(
        F.try_divide(
            (na - F.lit(1.0)) * va + (nb - F.lit(1.0)) * vb,
            na + nb - F.lit(2.0),
        )
    )
    d = F.try_divide(ma - mb, sp)
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se2 > 0)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_a",
        "n_b",
        q6(ma / F.lit(scale)).alias("mean_a_q6"),
        q6(mb / F.lit(scale)).alias("mean_b_q6"),
        F.when(ok, q6(t)).alias("t_q6"),
        F.when(ok, q6(dfree)).alias("df_q6"),
        F.when(ok & (sp > 0), q6(d)).alias("d_q6"),
    )


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    event_col: str,
) -> DataFrame:
    """Cochran-Armitage trend test — "does the event RATE rise with the
    ordered dose": the 2 x k contingency test with the dose ORDER used
    (where [[chi2_independence]] throws the ordering away). The
    canonical monotone-exposure screen (quality-score bucket vs
    dup-flag, context-length bucket vs error rate).

    Contract: ``dose_col`` is an integer score (callers bucket/quantize
    upstream); ``event_col`` is 0/1.

    EXACT cross-engine: per-dose (n_j, r_j) counts are exact BIGINTs;
    the five moment sums N, R, Sxn = SUM(x n), Sxr = SUM(x r),
    Sxx = SUM(x^2 n) accumulate in DECIMAL(38,0), and

        chi2 = N (N Sxr - R Sxn)^2 / (R (N-R) (N Sxx - Sxn^2))

    is ONE fixed-op-order float expression over the five exact scalars
    (the squared numerator exceeds decimal range around N ~ 1e9 with
    1e4-wide doses, so the doubles carry it — both engines run the
    SAME tree on the SAME exact inputs). Null when degenerate (all
    doses equal, or R in {0, N}). z_q6 is the signed root (positive =
    rate rises with dose).

    Plan: one map-combinable (dose) groupBy bounded by dose
    cardinality, one 1-row aggregate. Returns (n, k_doses, chi2_q6,
    z_q6).
    """
    x = F.col(dose_col).cast("long")
    e = F.col(event_col).cast("int")
    per = (
        df.select(x.alias("__x"), e.alias("__e"))
        .filter(F.col("__x").isNotNull() & F.col("__e").isNotNull())
        .groupBy("__x")
        .agg(
            F.count("*").cast("long").alias("__n_j"),
            F.sum("__e").cast("long").alias("__r_j"),
        )
    )
    dec = "decimal(38,0)"
    xd = F.col("__x").cast(dec)
    agg = per.agg(
        F.sum("__n_j").cast("long").alias("n"),
        F.count("*").cast("long").alias("k_doses"),
        F.sum("__r_j").cast("long").alias("__r"),
        F.sum(xd * F.col("__n_j").cast(dec)).alias("__sxn"),
        F.sum(xd * F.col("__r_j").cast(dec)).alias("__sxr"),
        F.sum(xd * xd * F.col("__n_j").cast(dec)).alias("__sxx"),
    )
    nn = F.col("n").cast("double")
    rr = F.col("__r").cast("double")
    sxn = F.col("__sxn").cast("double")
    sxr = F.col("__sxr").cast("double")
    sxx = F.col("__sxx").cast("double")
    num = nn * sxr - rr * sxn
    den = rr * (nn - rr) * (nn * sxx - sxn * sxn)
    # try_divide: den = 0 on degenerate inputs (all doses equal or R in
    # {0, N}) must null out, not raise under ANSI mode.
    chi2 = F.try_divide(nn * num * num, den)
    z = F.signum(num) * F.sqrt(chi2)
    ok = (
        (F.col("__r") > 0)
        & (F.col("__r") < F.col("n"))
        & (F.col("k_doses") > 1)
    )
    return agg.select(
        "n",
        "k_doses",
        F.when(ok, F.floor(chi2 * F.lit(1e6)) / F.lit(1e6)).alias(
            "chi2_q6"
        ),
        F.when(ok, F.floor(z * F.lit(1e6)) / F.lit(1e6)).alias("z_q6"),
    )


def cramer_von_mises_2s(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Cramér-von Mises two-sample criterion — the INTEGRATED
    squared CDF gap where [[ks_statistic]] takes the max: T =
    (nm/N^2) * sum_z (F_n(z) - G_m(z))^2 over the pooled order
    statistics (ties counted with multiplicity). KS sees only the
    single worst point; CvM accumulates every point, so a broad small
    shift that never spikes — the typical drift signature — moves CvM
    first. Same reading as [[wasserstein_1d]] but quadratic, weighting
    sustained gaps over long thin tails.

    Two-group contract (shared with [[welch_t_test]]): ``group_col``
    binarized against the broadcast 1-row min.

    EXACT cross-engine: values integer-quantized ([[_quant]]); per
    distinct value the CDF gap has the INTEGER numerator d = m*cumA -
    n*cumB (the [[ks_statistic]] trick), so the weighted sum U = sum_v
    c_v * d^2 is an exact DECIMAL(38,0) and the single float division
    T = U / (n*m*N^2) happens once at emit. Plan: one map-combinable
    (value -> per-arm count) shuffle, one running sum over the
    distinct-value table (bounded by cardinality, not corpus size),
    one 1-row aggregate. Returns (n_a, n_b, t_q6); t_q6 null when
    either arm is empty.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    gmin = F.broadcast(base.agg(F.min("__g").alias("__ga")))
    tagged = base.crossJoin(gmin).select(
        "__v",
        (F.col("__g") == F.col("__ga")).cast("int").alias("__a"),
    )
    cnt = tagged.groupBy("__v").agg(
        F.sum("__a").cast("long").alias("__ca"),
        F.sum(1 - F.col("__a")).cast("long").alias("__cb"),
    )
    w = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        (F.col("__ca") + F.col("__cb")).alias("__c"),
        F.sum("__ca").over(w).alias("__ka"),
        F.sum("__cb").over(w).alias("__kb"),
    )
    totals = F.broadcast(
        cnt.agg(
            F.sum("__ca").cast("long").alias("n_a"),
            F.sum("__cb").cast("long").alias("n_b"),
        )
    )
    dec = "decimal(38,0)"
    d = (
        F.col("n_b") * F.col("__ka") - F.col("n_a") * F.col("__kb")
    ).cast(dec)
    agg = (
        cum.crossJoin(totals)
        .agg(
            F.sum(F.col("__c").cast(dec) * d * d).alias("__u"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    t = F.try_divide(F.col("__u").cast("double"), na * nb * nn * nn)
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor(t * F.lit(1e6)) / F.lit(1e6),
        ).alias("t_q6"),
    )


def energy_distance_2s(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Two-sample energy distance (Székely-Rizzo): D^2 = 2*E|X-Y| -
    E|X-X'| - E|Y-Y'| — the metric two-sample statistic that is zero
    IFF the distributions are equal, consistent against ALL
    alternatives (where [[welch_t_test]] sees only means and
    [[ks_statistic]] only the worst point; [[cramer_von_mises_2s]] is
    its rank-space cousin). E|X-Y| sounds quadratic; it is not: over
    the SORTED pooled distinct values every pairwise L1 expectation
    collapses to one linear sweep via sum_k gap_k * (cumX_k * (m -
    cumY_k) + cumY_k * (n - cumX_k)) — each consecutive gap is crossed
    by exactly that many (x, y) pairs.

    Two-group contract (shared with [[welch_t_test]]): ``group_col``
    binarized against the broadcast 1-row min.

    EXACT cross-engine: quantized-integer values make every gap and
    cumulative count an integer, so S_xy, S_xx, S_yy are exact
    DECIMAL(38,0) sums; the three divisions and the final assembly are
    ONE fixed-op-order float expression, descaled to original value
    units at emit. Plan: one map-combinable (value -> per-arm count)
    shuffle, one lag window over the distinct-value table (bounded by
    cardinality), one 1-row aggregate. Returns (n_a, n_b, d2_q6);
    null when either arm is empty.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    gmin = F.broadcast(base.agg(F.min("__g").alias("__ga")))
    tagged = base.crossJoin(gmin).select(
        "__v",
        (F.col("__g") == F.col("__ga")).cast("int").alias("__a"),
    )
    cnt = tagged.groupBy("__v").agg(
        F.sum("__a").cast("long").alias("__ca"),
        F.sum(1 - F.col("__a")).cast("long").alias("__cb"),
    )
    ow = Window.orderBy("__v")
    w = ow.rowsBetween(Window.unboundedPreceding, 0)
    cum = cnt.select(
        (F.col("__v") - F.lag("__v", 1).over(ow)).alias("__gap"),
        (
            F.sum("__ca").over(w) - F.col("__ca")
        ).alias("__ka"),  # cum counts BELOW the gap (strictly before v)
        (F.sum("__cb").over(w) - F.col("__cb")).alias("__kb"),
    )
    totals = F.broadcast(
        cnt.agg(
            F.sum("__ca").cast("long").alias("n_a"),
            F.sum("__cb").cast("long").alias("n_b"),
        )
    )
    dec = "decimal(38,0)"
    g = F.col("__gap").cast(dec)
    ka, kb = F.col("__ka"), F.col("__kb")
    na_i, nb_i = F.col("n_a"), F.col("n_b")
    s_xy = g * (
        (ka * (nb_i - kb)).cast(dec) + (kb * (na_i - ka)).cast(dec)
    )
    s_xx = g * (ka * (na_i - ka)).cast(dec) * F.lit(2).cast(dec)
    s_yy = g * (kb * (nb_i - kb)).cast(dec) * F.lit(2).cast(dec)
    agg = (
        cum.crossJoin(totals)
        .filter(F.col("__gap").isNotNull())
        .agg(
            F.sum(s_xy).alias("__sxy"),
            F.sum(s_xx).alias("__sxx"),
            F.sum(s_yy).alias("__syy"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    scale = float(10 ** quantize)
    d2 = (
        F.lit(2.0) * F.col("__sxy").cast("double") / (na * nb)
        - F.col("__sxx").cast("double") / (na * na)
        - F.col("__syy").cast("double") / (nb * nb)
    ) / F.lit(scale)
    return agg.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.floor(d2 * F.lit(1e6)) / F.lit(1e6),
        ).alias("d2_q6"),
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
    the standard sensitivity move a plain [[welch_t_test]] on Y
    leaves on the table. Reported per arm: raw mean, adjusted mean,
    plus pooled theta and the variance-reduction ratio rho^2.

    Two-group contract (shared with [[welch_t_test]]): ``arm_col``
    binarized against the broadcast 1-row min.

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


def yuen_trimmed_t(
    df: DataFrame,
    value_col: str,
    group_col: str,
    trim_num: int = 1,
    trim_den: int = 5,
    quantize: int = 2,
) -> DataFrame:
    """Yuen's trimmed-means t test — [[welch_t_test]] for corpora with
    heavy tails: each arm's top and bottom ``trim_num/trim_den``
    fraction is trimmed from the MEAN and winsorized into the
    VARIANCE (clamped, not dropped — the Yuen construction), so a few
    pathological documents/users can't manufacture or mask a shift.
    The robust two-sample default when [[robust_outliers]] says the
    tails are live.

    Two-group contract (shared with [[welch_t_test]]): ``group_col``
    binarized against the broadcast 1-row min. The trim count is the
    exact integer g = floor(n * trim_num / trim_den) per arm.

    EXACT cross-engine: per-arm distinct-value count tables carry
    integer rank intervals; the trimmed sum is the rank-interval
    overlap identity (max(0, min(n-g, cum) - max(g, cum-c)) per
    value), the winsorization bounds L/U are integer rank-reach order
    statistics, and the winsorized moments are BIGINT/DECIMAL sums.
    t and the Welch-Satterthwaite df over the Yuen d_i terms are each
    ONE fixed-op-order float expression. Plan: one (arm, value) count
    shuffle; every window is per-arm over distinct values. Returns
    (n_a, n_b, h_a, h_b, tmean_a_q6, tmean_b_q6, t_q6, df_q6); t/df
    null when either trimmed count h < 2 or both winsorized
    variances are 0.
    """
    v = _quant(F.col(value_col), quantize)
    base = df.select(
        v.alias("__v"), F.col(group_col).alias("__g")
    ).filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    gmin = F.broadcast(base.agg(F.min("__g").alias("__ga")))
    tagged = base.crossJoin(gmin).select(
        "__v", (F.col("__g") == F.col("__ga")).cast("int").alias("__arm")
    )
    cnt = tagged.groupBy("__arm", "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    warm = Window.partitionBy("__arm").orderBy("__v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.partitionBy("__arm").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cnt.select(
        "__arm",
        "__v",
        "__c",
        F.sum("__c").over(warm).alias("__cum"),
        F.sum("__c").over(wfull).alias("__n"),
    )
    g = F.floor(
        F.col("__n") * F.lit(int(trim_num)) / F.lit(int(trim_den))
    ).cast("long")
    # rank-interval overlap with [g+1, n-g]
    lo_r = F.greatest(g, F.col("__cum") - F.col("__c"))
    hi_r = F.least(F.col("__n") - g, F.col("__cum"))
    take = F.greatest(F.lit(0), hi_r - lo_r)
    # winsorization bounds: L = value at rank g+1, U at rank n-g
    is_l = (F.col("__cum") - F.col("__c") < g + 1) & (
        F.col("__cum") >= g + 1
    )
    is_u = (F.col("__cum") - F.col("__c") < F.col("__n") - g) & (
        F.col("__cum") >= F.col("__n") - g
    )
    dec = "decimal(38,0)"
    per = cum.groupBy("__arm").agg(
        F.max("__n").alias("n"),
        F.max(g).alias("__gg"),
        F.sum(take * F.col("__v")).cast("long").alias("__tsum"),
        F.sum(take).cast("long").alias("h"),
        F.max(F.when(is_l, F.col("__v"))).alias("__L"),
        F.max(F.when(is_u, F.col("__v"))).alias("__U"),
    )
    # winsorized moments need the clamp bounds: join the 2-row per-arm
    # table back to the count table (broadcast, bounded)
    wj = cum.join(
        F.broadcast(per.select("__arm", "__L", "__U")), "__arm"
    )
    clamped = F.greatest(F.least(F.col("__v"), F.col("__U")), F.col("__L"))
    wins = wj.groupBy("__arm").agg(
        F.sum(clamped * F.col("__c")).cast("long").alias("__ws"),
        F.sum(
            clamped.cast(dec) * clamped.cast(dec) * F.col("__c").cast(dec)
        ).alias("__wq"),
    )
    arm = per.join(wins, "__arm")
    nn = F.col("n").cast("double")
    hh = F.col("h").cast("double")
    tmean = F.try_divide(
        F.col("__tsum").cast("double"), hh
    )
    swin = F.try_divide(
        F.col("__wq").cast("double")
        - F.col("__ws").cast("double")
        * F.col("__ws").cast("double")
        / nn,
        nn - F.lit(1.0),
    )
    d_term = F.try_divide(
        (nn - F.lit(1.0)) * swin, hh * (hh - F.lit(1.0))
    )
    wide = (
        arm.filter(F.col("__arm") == 1)
        .select(
            F.col("n").alias("n_a"),
            F.col("h").alias("h_a"),
            tmean.alias("__ma"),
            d_term.alias("__da"),
        )
        .crossJoin(
            F.broadcast(
                arm.filter(F.col("__arm") == 0).select(
                    F.col("n").alias("n_b"),
                    F.col("h").alias("h_b"),
                    tmean.alias("__mb"),
                    d_term.alias("__db"),
                )
            )
        )
    )
    scale = float(10 ** quantize)
    se2 = F.col("__da") + F.col("__db")
    t = F.try_divide(F.col("__ma") - F.col("__mb"), F.sqrt(se2))
    dfree = F.try_divide(
        se2 * se2,
        F.try_divide(
            F.col("__da") * F.col("__da"),
            F.col("h_a").cast("double") - F.lit(1.0),
        )
        + F.try_divide(
            F.col("__db") * F.col("__db"),
            F.col("h_b").cast("double") - F.lit(1.0),
        ),
    )
    ok = (F.col("h_a") > 1) & (F.col("h_b") > 1) & (se2 > 0)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return wide.select(
        "n_a",
        "n_b",
        "h_a",
        "h_b",
        q6(F.col("__ma") / F.lit(scale)).alias("tmean_a_q6"),
        q6(F.col("__mb") / F.lit(scale)).alias("tmean_b_q6"),
        F.when(ok, q6(t)).alias("t_q6"),
        F.when(ok, q6(dfree)).alias("df_q6"),
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: int,
) -> DataFrame:
    """Restricted mean survival time at horizon ``tau``: the area
    under the [[kaplan_meier]] curve on [0, tau] — "expected
    time-to-event within the window", the censoring-aware effect size
    the survival literature recommends over the median when curves
    cross or the median is unreached ([[median_survival]] reads one
    quantile; RMST integrates the whole head of the curve).

    Step-rule integral over the KM table: S = 1 on [0, t_1), then
    each row's quantized survival holds until the next distinct time,
    clamped at tau. Determinism: survival_q is already the 1e-9-log
    quantized KM value (bit-stable), interval lengths are integers,
    and the segment products accumulate in FIXED time order via an
    ordered window — one float expression chain end to end. Plan:
    the KM plan + one k-row window over distinct times. Returns
    (tau, t_first, rmst_q6).
    """
    km = kaplan_meier(df, duration_col, event_col)
    t = int(tau)
    wlead = Window.orderBy("duration")
    seg = km.select(
        F.col("duration").alias("__start"),
        F.col("survival_q").alias("__sq"),
        F.lead("duration").over(wlead).alias("__nxt"),
    ).filter(F.col("__start") < t)
    body = seg.select(
        "__start",
        "__sq",
        (
            F.least(F.coalesce("__nxt", F.lit(t)), F.lit(t))
            - F.col("__start")
        ).cast("double").alias("__len"),
    )
    first = km.agg(F.min("duration").alias("__t1"))
    init = first.select(
        F.lit(-1).cast("long").alias("__start"),
        F.lit(1.0).alias("__sq"),
        F.least(F.col("__t1"), F.lit(t)).cast("double").alias("__len"),
    ).filter(F.col("__len") > 0)
    segs = init.unionByName(body)
    ordw = Window.orderBy("__start").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fullw = Window.orderBy("__start").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = segs.select(
        F.sum(F.col("__sq") * F.col("__len")).over(ordw).alias("__area"),
        F.row_number().over(Window.orderBy("__start")).alias("__rn"),
        F.count("*").over(fullw).alias("__k"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__k"))
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.crossJoin(F.broadcast(first)).select(
        F.lit(t).cast("long").alias("tau"),
        F.col("__t1").alias("t_first"),
        q6(F.col("__area")).alias("rmst_q6"),
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


def brunner_munzel(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    quantize: int = 2,
) -> DataFrame:
    """Brunner-Munzel test — the rank test to reach for when the two
    groups may have DIFFERENT shapes/variances ([[mann_whitney_u]]'s
    null assumes exchangeability; BM only tests P(X<Y) + 1/2 P(X=Y)
    = 1/2 and stays valid under the nonparametric Behrens-Fisher
    setup). Emits the effect estimate p_hat, the studentized W and
    its Satterthwaite df.

    EXACT construction without per-row ranks: every BM ingredient
    reduces to the distinct-value count table. With ca/cb the counts
    at value v and *_below their running sums, the doubled combined
    midrank is D_v = 2(ca_below + cb_below) + ca + cb + 1 and the
    doubled PLACEMENT of an A-row (combined minus within-group
    midrank) collapses to u_v = 2*cb_below + cb — so the rank means
    and placement variances are BIGINT moment sums, finished by one
    fixed float expression each. Plan: one value-count shuffle, one
    distinct-value window, one scalar aggregate ([[mann_whitney_u]]'s
    shape). Returns (n_a, n_b, p_hat_q6, w_q6, df_q6); W null when
    both placement variances vanish (disjoint or constant samples).
    """
    v = _quant(F.col(value_col), quantize)
    g = F.col(group_col)
    pooled = df.filter(g.isin([group_a, group_b])).select(
        v.alias("v"),
        F.when(g == group_a, F.lit(1)).otherwise(F.lit(0)).alias("s"),
    )
    cnt = pooled.groupBy("v").agg(
        F.sum("s").cast("long").alias("ca"),
        F.sum(1 - F.col("s")).cast("long").alias("cb"),
    )
    below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cnt.select(
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(below), F.lit(0)).alias("cab"),
        F.coalesce(F.sum("cb").over(below), F.lit(0)).alias("cbb"),
    )
    d_v = (
        2 * (F.col("cab") + F.col("cbb"))
        + F.col("ca")
        + F.col("cb")
        + 1
    )
    ua = 2 * F.col("cbb") + F.col("cb")
    ub = 2 * F.col("cab") + F.col("ca")
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * d_v).cast("long").alias("__sda"),
        F.sum(F.col("cb") * d_v).cast("long").alias("__sdb"),
        F.sum(F.col("ca") * ua).cast("long").alias("__sua"),
        F.sum(F.col("ca") * ua * ua).cast("long").alias("__suua"),
        F.sum(F.col("cb") * ub).cast("long").alias("__sub"),
        F.sum(F.col("cb") * ub * ub).cast("long").alias("__suub"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    rba = F.col("__sda").cast("double") / (F.lit(2.0) * na)
    rbb = F.col("__sdb").cast("double") / (F.lit(2.0) * nb)
    ca_ = F.col("__sda").cast("double") / na - (na + F.lit(1.0))
    cb_ = F.col("__sdb").cast("double") / nb - (nb + F.lit(1.0))
    sqa = (
        F.col("__suua").cast("double")
        - F.lit(2.0) * ca_ * F.col("__sua").cast("double")
        + na * ca_ * ca_
    ) / F.lit(4.0)
    sqb = (
        F.col("__suub").cast("double")
        - F.lit(2.0) * cb_ * F.col("__sub").cast("double")
        + nb * cb_ * cb_
    ) / F.lit(4.0)
    s2a = sqa / (na - F.lit(1.0))
    s2b = sqb / (nb - F.lit(1.0))
    t = na * s2a + nb * s2b
    w = na * nb * (rbb - rba) / (na + nb) / F.sqrt(t)
    dof = (
        t
        * t
        / (
            (na * s2a) * (na * s2a) / (na - F.lit(1.0))
            + (nb * s2b) * (nb * s2b) / (nb - F.lit(1.0))
        )
    )
    p_hat = (rbb - (nb + F.lit(1.0)) / F.lit(2.0)) / na
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_a",
        "n_b",
        q6(p_hat).alias("p_hat_q6"),
        F.when(t > 0, q6(w)).alias("w_q6"),
        F.when(t > 0, q6(dof)).alias("df_q6"),
    )


def cucconi_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    quantize: int = 2,
) -> DataFrame:
    """Cucconi test — JOINT location-AND-scale two-sample test in one
    statistic (predates and often beats the Lepage combination): U
    standardizes the sum of squared ranks of sample B, V the sum of
    squared CONTRA-ranks, and C = (U^2 + V^2 - 2 rho U V)/(2(1 -
    rho^2)) rejects when either the center or the spread moved — the
    single-number screen before deciding between [[mann_whitney_u]]
    (location) and a scale test.

    Doubled midranks off the distinct-value count table make
    sum S^2 = sum D^2/4 and sum (N+1-S)^2 = sum (2(N+1)-D)^2/4
    integer-exact; the null moments are closed forms in (n_a, n_b, N)
    evaluated in double. [[mann_whitney_u]]'s plan shape. Returns one
    row (n_a, n_b, u_q6, v_q6, c_q6).
    """
    v = _quant(F.col(value_col), quantize)
    g = F.col(group_col)
    pooled = df.filter(g.isin([group_a, group_b])).select(
        v.alias("v"),
        F.when(g == group_a, F.lit(1)).otherwise(F.lit(0)).alias("s"),
    )
    cnt = pooled.groupBy("v").agg(
        F.sum("s").cast("long").alias("ca"),
        F.sum(1 - F.col("s")).cast("long").alias("cb"),
    )
    below = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cnt.select(
        "ca",
        "cb",
        F.coalesce(
            F.sum(F.col("ca") + F.col("cb")).over(below), F.lit(0)
        ).alias("lo"),
    )
    c = F.col("ca") + F.col("cb")
    d = 2 * F.col("lo") + c + 1  # doubled midrank
    agg = cum.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("cb") * d).cast("long").alias("__sd1"),
        F.sum(F.col("cb") * d * d).cast("long").alias("__sd2"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    ss2 = F.col("__sd2").cast("double") / F.lit(4.0)
    # sum (N+1-S)^2 = n_b (N+1)^2 - (N+1) * sum D + sum D^2 / 4
    sc2 = (
        nb * (nn + F.lit(1.0)) * (nn + F.lit(1.0))
        - (nn + F.lit(1.0)) * F.col("__sd1").cast("double")
        + ss2
    )
    mean0 = nb * (nn + F.lit(1.0)) * (F.lit(2.0) * nn + F.lit(1.0))
    den = F.sqrt(
        na
        * nb
        * (nn + F.lit(1.0))
        * (F.lit(2.0) * nn + F.lit(1.0))
        * (F.lit(8.0) * nn + F.lit(11.0))
        / F.lit(5.0)
    )
    u = (F.lit(6.0) * ss2 - mean0) / den
    vv = (F.lit(6.0) * sc2 - mean0) / den
    rho = (
        F.lit(2.0)
        * (nn * nn - F.lit(4.0))
        / (
            (F.lit(2.0) * nn + F.lit(1.0))
            * (F.lit(8.0) * nn + F.lit(11.0))
        )
        - F.lit(1.0)
    )
    cstat = (u * u + vv * vv - F.lit(2.0) * rho * u * vv) / (
        F.lit(2.0) * (F.lit(1.0) - rho * rho)
    )
    q6 = lambda x: F.floor(x * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_a",
        "n_b",
        q6(u).alias("u_q6"),
        q6(vv).alias("v_q6"),
        q6(cstat).alias("c_q6"),
    )


def competing_risks_cif(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS:
    when a subject can exit by several causes (converted vs churned;
    doc dropped by dedup vs by quality gate), 1 - KM per cause
    OVERSTATES every cause — the correct per-cause probability is
    CIF_k(t) = sum_{t_i <= t} S(t_i-) * d_ki / n_i with S the
    ALL-CAUSE survival. ``cause_col``: 0 = censored, 1..K = cause
    ids. The survival-family completion next to [[kaplan_meier]] /
    [[nelson_aalen]] / [[rmst]].

    Exactness: S(t-) reuses kaplan_meier's 1e-9-quantized-log
    construction (integer step sums, one deterministic libm call per
    distinct time), so each CIF increment is one fixed float
    expression and the running CIF folds per cause in time order.
    Plan: one (t, cause) count shuffle, one distinct-time window, one
    per-cause ordered window — all bounded by time-grid cardinality.
    Returns (cause, t, n_at_risk, d_cause, cif_q6).
    """
    t = F.col(duration_col)
    k = F.col(cause_col).cast("int")
    base = df.select(t.alias("t"), k.alias("k")).filter(
        F.col("t").isNotNull() & F.col("k").isNotNull()
    )
    tc = base.groupBy("t", "k").agg(
        F.count("*").cast("long").alias("dk")
    )
    per_t = tc.groupBy("t").agg(
        F.sum(F.when(F.col("k") > 0, F.col("dk")).otherwise(0))
        .cast("long")
        .alias("d"),
        F.sum("dk").cast("long").alias("all_exits"),
    )
    total = F.broadcast(
        per_t.agg(F.sum("all_exits").cast("long").alias("n_total"))
    )
    before = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = per_t.crossJoin(total).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("all_exits").over(before), F.lit(0))
        ).cast("long").alias("n"),
    )
    step = F.when(F.col("d") == 0, F.lit(0).cast("long")).when(
        F.col("d") < F.col("n"),
        F.floor(
            F.log(F.lit(1.0) - F.col("d") / F.col("n")) * F.lit(1e9)
        ).cast("long"),
    )
    cumb = risk.select(
        "t",
        "n",
        F.coalesce(F.sum(step).over(before), F.lit(0)).alias("__cb"),
        # null __cb means an ABSORBING S=0 happened strictly earlier
        F.max(
            F.when(step.isNull(), F.lit(1)).otherwise(F.lit(0))
        )
        .over(before)
        .alias("__absorbed"),
    )
    s_before = F.when(
        F.coalesce(F.col("__absorbed"), F.lit(0)) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.col("__cb").cast("double") / F.lit(1e9)))
    terms = tc.filter(F.col("k") > 0).join(cumb, "t").select(
        "k",
        "t",
        F.col("n").alias("n_at_risk"),
        F.col("dk").alias("d_cause"),
        (
            s_before
            * (F.col("dk").cast("double") / F.col("n").cast("double"))
        ).alias("__inc"),
    )
    cw = Window.partitionBy("k").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return terms.select(
        F.col("k").alias("cause"),
        "t",
        "n_at_risk",
        "d_cause",
        q6(F.sum("__inc").over(cw)).alias("cif_q6"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    value_col: str,
    m0_q: int,
    group_cols: tuple = (),
    quantize: int = 2,
) -> DataFrame:
    """One-sample Wilcoxon signed-rank test against the hypothesized
    location ``m0_q`` (ALREADY in quantized units): the
    distribution-free "is the median really m0" check —
    [[mann_whitney_u]]'s one-sample sibling, the right gate for "did
    this week's quality median move off the SLA point". Zero
    differences drop (Wilcoxon convention); W+ = rank-sum of positive
    differences with midranks over |diff|, z uses the tie-corrected
    null variance.

    Doubled midranks over the distinct |diff| table keep 2*W+ a
    BIGINT; the tie correction sum_blocks (c^3 - c) is integer too.
    Plan: one |diff|-count shuffle, one distinct-value window, one
    scalar aggregate. Returns (group..., n_nonzero, w_plus_q1, z_q6).
    """
    gcols = list(group_cols)
    v = _quant(F.col(value_col), quantize)
    d = (v - F.lit(int(m0_q))).alias("__d")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *gcols, d
    ).filter(F.col("__d") != 0)
    cnt = base.groupBy(
        *gcols, F.abs(F.col("__d")).alias("__a")
    ).agg(
        F.sum((F.col("__d") > 0).cast("long"))
        .cast("long")
        .alias("__cp"),
        F.count("*").cast("long").alias("__c"),
    )
    below = Window.partitionBy(*gcols).orderBy("__a").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cnt.select(
        *gcols,
        "__cp",
        "__c",
        (
            2 * F.coalesce(F.sum("__c").over(below), F.lit(0))
            + F.col("__c")
            + 1
        ).alias("__d2"),
    )
    agg = ranked.groupBy(*gcols).agg(
        F.sum("__c").cast("long").alias("n_nonzero"),
        F.sum(F.col("__cp") * F.col("__d2")).cast("long").alias("__w2"),
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        )
        .cast("long")
        .alias("__tie3"),
    )
    n = F.col("n_nonzero").cast("double")
    w = F.col("__w2").cast("double") / F.lit(2.0)
    mean0 = n * (n + F.lit(1.0)) / F.lit(4.0)
    var0 = n * (n + F.lit(1.0)) * (
        F.lit(2.0) * n + F.lit(1.0)
    ) / F.lit(24.0) - F.col("__tie3").cast("double") / F.lit(48.0)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *gcols,
        "n_nonzero",
        w.alias("w_plus_q1"),
        F.when(
            var0 > 0, q6((w - mean0) / F.sqrt(var0))
        ).alias("z_q6"),
    )
