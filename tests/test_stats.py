"""Weighted quantiles (functions/stats.py) — closed-form pins. All
integer arithmetic, so the assertions are exact, never approx."""

from png_from_pdf_extracter_spark.functions.stats import weighted_quantile


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, v long, w long")


def test_weighted_median_weight_concentration(spark):
    # value 100 holds 8/10 of the weight: the weighted median is 100
    # even though it is the largest of four values
    rows = [("a", 1, 1), ("a", 2, 1), ("a", 3, 0), ("a", 100, 8)]
    r = weighted_quantile(
        _df(spark, rows), "v", "w", group_cols=("g",)
    ).collect()[0]
    assert r["wq_value"] == 100 and r["total_w"] == 10


def test_weighted_median_unit_weights_is_lower_median(spark):
    rows = [("a", v, 1) for v in (10, 20, 30, 40)]
    r = weighted_quantile(
        _df(spark, rows), "v", "w", group_cols=("g",)
    ).collect()[0]
    assert r["wq_value"] == 20  # lower median: cumw 2 reaches 4/2


def test_weighted_quantile_rational_q(spark):
    rows = [("a", v, 1) for v in range(1, 11)]  # 1..10, unit weights
    r = weighted_quantile(
        _df(spark, rows), "v", "w", group_cols=("g",), q_num=9, q_den=10
    ).collect()[0]
    assert r["wq_value"] == 9  # cumw 9 reaches 10*9/10


def test_weighted_median_exact_boundary(spark):
    # cumw*2 == total*1 exactly at value 1 (weight 1 of total 2): the
    # LOWER weighted median takes it — integer compare, no float fuzz
    rows = [("a", 1, 1), ("a", 5, 1)]
    r = weighted_quantile(
        _df(spark, rows), "v", "w", group_cols=("g",)
    ).collect()[0]
    assert r["wq_value"] == 1


# ---- rank statistics (mann_whitney_u / spearman_corr / autocorr_lag1) ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    autocorr_lag1,
    mann_whitney_u,
    spearman_corr,
)


def _mw_df(spark, a_vals, b_vals):
    rows = [("A", float(v)) for v in a_vals] + [
        ("B", float(v)) for v in b_vals
    ]
    return spark.createDataFrame(rows, "grp string, v double")


def test_mann_whitney_complete_separation(spark):
    r = mann_whitney_u(
        _mw_df(spark, [3, 4], [1, 2]), "v", "grp", "A", "B"
    ).collect()[0]
    # every A beats every B: U_a = n_a*n_b = 4, AUC = 1.0
    assert (r["u2_a"], r["u2_b"], r["auc_a"]) == (8, 0, 1.0)
    assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"]


def test_mann_whitney_all_ties_is_half(spark):
    r = mann_whitney_u(
        _mw_df(spark, [5, 5], [5, 5]), "v", "grp", "A", "B"
    ).collect()[0]
    # full tie block: U_a = U_b = n_a*n_b/2, AUC = 0.5
    assert r["u2_a"] == r["u2_b"] == 4 and r["auc_a"] == 0.5


def test_mann_whitney_identity_holds_with_mixed_ties(spark):
    r = mann_whitney_u(
        _mw_df(spark, [1, 2, 2, 7], [2, 3, 3]), "v", "grp", "A", "B"
    ).collect()[0]
    assert r["u2_a"] + r["u2_b"] == 2 * r["n_a"] * r["n_b"] == 24


def _xy_df(spark, pairs):
    return spark.createDataFrame(
        [(float(x), float(y)) for x, y in pairs], "x double, y double"
    )


def test_spearman_perfect_monotone_nonlinear(spark):
    pairs = [(x, x * x) for x in range(1, 11)]
    r = spearman_corr(_xy_df(spark, pairs), "x", "y").collect()[0]
    assert r["rho"] == 1.0  # rank-equal despite nonlinearity
    # doubled-rank sums are each exactly n*(n+1)
    assert r["sx2"] == r["sy2"] == 10 * 11


def test_spearman_perfect_inverse(spark):
    pairs = [(x, -x) for x in range(1, 8)]
    r = spearman_corr(_xy_df(spark, pairs), "x", "y").collect()[0]
    assert r["rho"] == -1.0


def test_spearman_constant_margin_is_null(spark):
    pairs = [(x, 5) for x in range(1, 6)]
    r = spearman_corr(_xy_df(spark, pairs), "x", "y").collect()[0]
    assert r["rho"] is None and r["n_pairs"] == 5


def _seq_df(spark, vals):
    return spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "k string, i long, v double",
    )


def test_autocorr_alternating_is_minus_one(spark):
    r = autocorr_lag1(
        _seq_df(spark, [1, 0, 1, 0, 1, 0]), ("k",), ("i",), "v"
    ).collect()[0]
    assert r["r1"] == -1.0 and r["n_pairs"] == 5


def test_autocorr_linear_is_plus_one(spark):
    r = autocorr_lag1(
        _seq_df(spark, [1, 2, 3, 4, 5]), ("k",), ("i",), "v"
    ).collect()[0]
    assert r["r1"] == 1.0 and r["n_pairs"] == 4


def test_autocorr_constant_is_null(spark):
    r = autocorr_lag1(
        _seq_df(spark, [7, 7, 7, 7]), ("k",), ("i",), "v"
    ).collect()[0]
    assert r["r1"] is None


# ---- running_distinct / changepoint_single ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    changepoint_single,
    running_distinct,
)


def test_running_distinct_hand_sequence(spark):
    df = spark.createDataFrame(
        [("u", i, v) for i, v in enumerate(["a", "b", "a", "c", "b", "d"])],
        "k string, i long, v string",
    )
    out = running_distinct(df, ("k",), ("i",), "v").orderBy("i").collect()
    assert [r["n_distinct"] for r in out] == [1, 2, 2, 3, 3, 4]


def test_running_distinct_final_equals_count_distinct(spark):
    df = spark.createDataFrame(
        [("u", i, f"v{i % 7}") for i in range(50)],
        "k string, i long, v string",
    )
    last = (
        running_distinct(df, ("k",), ("i",), "v")
        .orderBy(F.desc("i"))
        .first()
    )
    assert last["n_distinct"] == 7


def test_changepoint_clean_step(spark):
    vals = [0, 0, 0, 10, 10, 10]
    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate(vals)],
        "k string, i long, v double",
    )
    r = changepoint_single(df, ("k",), ("i",), "v").collect()[0]
    assert r["k_star"] == 3
    assert (r["mean_left"], r["mean_right"]) == (0.0, 10.0)


def test_changepoint_constant_ties_break_to_smallest_k(spark):
    df = spark.createDataFrame(
        [("u", i, 5.0) for i in range(6)], "k string, i long, v double"
    )
    r = changepoint_single(df, ("k",), ("i",), "v").collect()[0]
    assert r["k_star"] == 2 and r["bss_q2"] == 0.0


def test_changepoint_short_groups_dropped(spark):
    df = spark.createDataFrame(
        [("u", i, float(i)) for i in range(3)], "k string, i long, v double"
    )
    assert changepoint_single(df, ("k",), ("i",), "v").count() == 0


# needed by the appended tests above
from pyspark.sql import functions as F  # noqa: E402


# ---- benford_digits ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    benford_digits,
)


def test_benford_digit_extraction_and_shares(spark):
    # values whose 2dp quantization leads with known digits, incl. the
    # libm trap case 10.00 -> q=1000 -> digit 1 (log10 would misfire)
    vals = [1.23, 10.00, 0.19, 2.5, 29.9, 0.0, -3.0]  # 0/neg excluded
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["digit"]: r["n"] for r in benford_digits(df, "v").collect()}
    assert out == {1: 3, 2: 2}  # 123,1000,19 -> 1; 250,2990 -> 2
    rows = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    assert rows[1]["share_q"] == 0.6  # 3 of 5 positive-quantized rows
    import math

    assert rows[1]["expected_q"] == math.floor(
        math.log10(2) * 1e6
    ) / 1e6


def test_benford_grouped_totals_are_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.5), ("b", 9.0)], "g string, v double"
    )
    out = {
        (r["g"], r["digit"]): r["share_q"]
        for r in benford_digits(df, "v", ("g",)).collect()
    }
    assert out == {("a", 1): 1.0, ("b", 9): 1.0}


# ---- rolling_median ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    rolling_median,
)


def test_rolling_median_hand_sequence(spark):
    # values 10,90,20,80,30 window 3: frames [10],[10,90],[10,20,90],
    # [20,80,90],[20,30,80] -> lower medians 10,10,20,80,30
    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate([10, 90, 20, 80, 30])],
        "k string, i long, v double",
    )
    out = (
        rolling_median(df, ("k",), ("i",), "v", window_rows=3)
        .orderBy("i")
        .collect()
    )
    assert [r["med_q"] for r in out] == [1000, 1000, 2000, 8000, 3000]


def test_rolling_median_even_frame_takes_lower(spark):
    # frame [10,20] -> ceil(2/2)=1 -> lower middle, no averaging
    df = spark.createDataFrame(
        [("u", 0, 20.0), ("u", 1, 10.0)], "k string, i long, v double"
    )
    out = (
        rolling_median(df, ("k",), ("i",), "v", window_rows=5)
        .orderBy("i")
        .collect()
    )
    assert [r["med_q"] for r in out] == [2000, 1000]


# ---- correlogram ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    correlogram,
)


def test_correlogram_lag1_matches_autocorr_and_period2_signal(spark):
    # perfect period-2 alternation: r(1) = -1, r(2) = +1
    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate([1, 0] * 6)],
        "k string, i long, v double",
    )
    out = {
        r["lag"]: r["r"]
        for r in correlogram(df, ("k",), ("i",), "v", max_lag=3).collect()
    }
    assert out[1] == -1.0 and out[2] == 1.0 and out[3] == -1.0
    lag1 = autocorr_lag1(df, ("k",), ("i",), "v").collect()[0]["r1"]
    assert out[1] == lag1


def test_correlogram_lag_beyond_sequence_absent_or_null(spark):
    df = spark.createDataFrame(
        [("u", i, float(i)) for i in range(3)], "k string, i long, v double"
    )
    rows = correlogram(df, ("k",), ("i",), "v", max_lag=5).collect()
    lags = {r["lag"] for r in rows}
    assert 5 not in lags and 4 not in lags  # no pairs exist


# ---- kaplan_meier ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    kaplan_meier,
)


def _km(spark, obs):
    df = spark.createDataFrame(obs, "t long, e int")
    return {
        r["duration"]: r
        for r in kaplan_meier(df, "t", "e").collect()
    }


def test_km_textbook_no_censoring(spark):
    # deaths at t=1,2,3 out of 3: S = 2/3, 1/3, 0
    out = _km(spark, [(1, 1), (2, 1), (3, 1)])
    assert out[1]["n_at_risk"] == 3
    assert abs(out[1]["survival_q"] - 2 / 3) < 1e-5
    assert abs(out[2]["survival_q"] - 1 / 3) < 1e-5
    assert out[3]["survival_q"] == 0.0


def test_km_censoring_removes_from_risk_without_step(spark):
    # death at 1 (n=4 -> S=3/4), censor at 2 (no step), death at 3
    # with n=2 -> S = 3/4 * 1/2 = 3/8
    out = _km(spark, [(1, 1), (2, 0), (3, 1), (4, 0)])
    assert abs(out[1]["survival_q"] - 0.75) < 1e-5
    assert out[2]["survival_q"] == out[1]["survival_q"]  # censor: flat
    assert abs(out[3]["survival_q"] - 0.375) < 1e-5
    assert out[4]["c_censored"] == 1


def test_km_survival_monotone_nonincreasing(spark):
    obs = [(t, t % 2) for t in range(1, 30)]
    rows = sorted(_km(spark, obs).items())
    survs = [r["survival_q"] for _, r in rows]
    assert all(a >= b for a, b in zip(survs, survs[1:]))


# ---- gini_concentration ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    gini_concentration,
    poisson_bootstrap_ci,
)


def test_gini_uniform_is_zero(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 10), ("c", 10), ("d", 10)], "g string, w long"
    )
    r = gini_concentration(df, "g", "w").collect()[0]
    assert r["gini_ppm"] == 0
    assert r["hhi_ppm"] == 250000  # 4 * (1/4)^2
    assert r["top_share_ppm"] == 250000


def test_gini_total_concentration(spark):
    # one group holds everything except epsilon: G -> (n-1)/n
    df = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), ("d", 100)], "g string, w long"
    )
    r = gini_concentration(df, "g", "w").collect()[0]
    assert r["gini_ppm"] == 750000  # 3/4 exactly
    assert r["hhi_ppm"] == 1000000
    assert r["top_share_ppm"] == 1000000


def test_gini_matches_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [(f"g{i}", rng.randrange(0, 500)) for i in range(40)]
    ws = sorted(w for _, w in rows)
    n, W = len(ws), sum(ws)
    iw = sum((i + 1) * w for i, w in enumerate(ws))
    expect = (2 * iw - (n + 1) * W) / (n * W)
    df = spark.createDataFrame(rows, "g string, w long")
    r = gini_concentration(df, "g", "w").collect()[0]
    import math

    assert r["gini_ppm"] == math.floor(expect * 1e6)
    assert r["n_groups"] == n and r["total_w"] == W


def test_gini_sums_duplicate_group_rows(spark):
    # rows of the same group must be summed before ranking
    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 10)], "g string, w long"
    )
    r = gini_concentration(df, "g", "w").collect()[0]
    assert r["n_groups"] == 2 and r["gini_ppm"] == 0


# ---- poisson_bootstrap_ci ----


def test_bootstrap_constant_data_collapses(spark):
    df = spark.createDataFrame(
        [(i, 5.0) for i in range(200)], "id long, v double"
    )
    r = poisson_bootstrap_ci(df, "id", "v", replicas=16).collect()[0]
    assert r["mean_ppm"] == r["ci_lo_ppm"] == r["ci_hi_ppm"] == 5_000_000
    assert r["n_replicas"] == 16


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark):
    import random

    rng = random.Random(3)
    rows = [(i, rng.uniform(0, 10)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v double")
    a = poisson_bootstrap_ci(df, "id", "v", replicas=24).collect()[0]
    b = (
        poisson_bootstrap_ci(
            df.repartition(7), "id", "v", replicas=24
        ).collect()[0]
    )
    assert a == b  # repartition-invariant (pure hash draw)
    true_mean = sum(v for _, v in rows) / len(rows) * 1e6
    assert a["ci_lo_ppm"] <= true_mean <= a["ci_hi_ppm"]
    assert a["ci_lo_ppm"] < a["ci_hi_ppm"]
    # CI half-width should be in the vicinity of 1.96*sigma/sqrt(n)
    import statistics

    se = statistics.pstdev([v for _, v in rows]) / (len(rows) ** 0.5)
    width = (a["ci_hi_ppm"] - a["ci_lo_ppm"]) / 1e6
    assert 0.5 * se < width < 8 * se


def test_bootstrap_grouped_and_validated(spark):
    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), float(i % 7)) for i in range(100)],
        "id long, g string, v double",
    )
    out = poisson_bootstrap_ci(
        df, "id", "v", group_cols=("g",), replicas=8
    ).collect()
    assert {r["g"] for r in out} == {"g0", "g1"}
    for r in out:
        assert r["ci_lo_ppm"] <= r["mean_ppm"] <= r["ci_hi_ppm"]
    import pytest

    with pytest.raises(ValueError):
        poisson_bootstrap_ci(df, "id", "v", replicas=1)
    with pytest.raises(ValueError):
        poisson_bootstrap_ci(df, "id", "v", alpha_num=1, alpha_den=2)


# ---- theil_sen_slope ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    theil_sen_slope,
)


def test_theil_sen_exact_line(spark):
    # y = 3x + 1: every pairwise slope is exactly 3
    df = spark.createDataFrame(
        [("g", x, 3.0 * x + 1.0) for x in range(10)],
        "g string, x long, y double",
    )
    r = theil_sen_slope(df, ("g",), "x", "y").collect()[0]
    assert r["slope_ppm"] == 3_000_000
    assert r["n_pairs"] == 45


def test_theil_sen_bruteforce_and_outlier_robust(spark):
    import math
    import random

    rng = random.Random(13)
    rows = [("g", x, 2.0 * x + rng.uniform(-0.1, 0.1)) for x in range(20)]
    rows[5] = ("g", 5, 1000.0)  # gross outlier
    df = spark.createDataFrame(rows, "g string, x long, y double")
    r = theil_sen_slope(df, ("g",), "x", "y").collect()[0]
    slopes = sorted(
        math.floor(
            (round(y2 * 1e6) - round(y1 * 1e6)) / (x2 - x1)
        )
        for i, (_, x1, y1) in enumerate(rows)
        for (_, x2, y2) in rows[i + 1 :]
        if x2 > x1
    )
    n = len(slopes)
    # lower median: smallest s with cum*2 >= n
    expect = next(
        s for k, s in enumerate(slopes) if (k + 1) * 2 >= n
    )
    assert r["slope_ppm"] == expect
    # robust: the outlier barely moves the slope off 2
    assert abs(r["slope_ppm"] / 1e6 - 2.0) < 0.2


def test_theil_sen_equal_x_pairs_excluded(spark):
    df = spark.createDataFrame(
        [("g", 1, 0.0), ("g", 1, 100.0), ("g", 2, 1.0)],
        "g string, x long, y double",
    )
    r = theil_sen_slope(df, ("g",), "x", "y").collect()[0]
    assert r["n_pairs"] == 2  # (1,0)-(2,1) and (1,100)-(2,1)


def test_gini_scoped_matches_per_scope_unscoped(spark):
    # each scope's scoped row equals running unscoped on that slice
    df = spark.createDataFrame(
        [("en", "a", 10), ("en", "b", 30), ("de", "a", 5), ("de", "c", 5)],
        "lang string, g string, w long",
    )
    scoped = {
        r["lang"]: r
        for r in gini_concentration(
            df, "g", "w", scope_cols=("lang",)
        ).collect()
    }
    for lang in ("en", "de"):
        solo = gini_concentration(
            df.filter(F.col("lang") == lang), "g", "w"
        ).collect()[0]
        assert scoped[lang]["gini_ppm"] == solo["gini_ppm"]
        assert scoped[lang]["hhi_ppm"] == solo["hhi_ppm"]
    assert scoped["de"]["gini_ppm"] == 0


# ---- kruskal_wallis ----


def test_kruskal_wallis_two_group_closed_form(spark):
    # a=[1,2], b=[3,4]: ranks 1..4, R_a=3, R_b=7
    # H = 12/(4*5) * (9/2 + 49/2) - 3*5 = 2.4; no ties -> same corrected
    from png_from_pdf_extracter_spark.functions.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "v", "g", quantize=0).collect()[0]
    assert (r["n"], r["k"], r["tie3"]) == (4, 2, 0)
    # floor-6dp of the IEEE double (12*29/20-15 = 2.3999999999999986):
    # the convention is deterministic quantization, not pretty decimals
    import math

    want = math.floor((12.0 * 29.0 / 20.0 - 15.0) * 1e6) / 1e6
    assert r["h_q6"] == want == 2.399999
    assert r["h_tie_q6"] == want


def test_kruskal_wallis_tie_correction(spark):
    # a=[1,1], b=[2,2]: midranks 1.5,1.5,3.5,3.5 -> H=2.4;
    # tie3 = 2*(8-2) = 12, C = 1 - 12/60 = 0.8 -> H/C = 3.0
    from png_from_pdf_extracter_spark.functions.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 2.0), ("b", 2.0)],
        "g string, v double",
    )
    r = kruskal_wallis(df, "v", "g", quantize=0).collect()[0]
    assert r["tie3"] == 12
    import math

    h = 12.0 * 29.0 / 20.0 - 15.0
    assert r["h_q6"] == math.floor(h * 1e6) / 1e6
    assert r["h_tie_q6"] == math.floor(h / (1.0 - 12.0 / 60.0) * 1e6) / 1e6


def test_kruskal_wallis_degenerate_all_equal(spark):
    # every value identical: the tie term eats the whole denominator
    from png_from_pdf_extracter_spark.functions.stats import kruskal_wallis

    df = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("c", 5.0)], "g string, v double"
    )
    r = kruskal_wallis(df, "v", "g", quantize=0).collect()[0]
    assert r["h_tie_q6"] is None


def test_kruskal_wallis_matches_two_group_mann_whitney_family(spark):
    # k=2 KW is the square of the normalized MW statistic family —
    # spot-check against a scipy-verified constant on a fixed sample
    from png_from_pdf_extracter_spark.functions.stats import kruskal_wallis

    rows = [("a", float(v)) for v in (1, 3, 5, 7, 9)] + [
        ("b", float(v)) for v in (2, 4, 6, 8, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "v", "g", quantize=0).collect()[0]
    # R_a=25, R_b=30 over ranks 1..10: H = 12/110*(125+180) - 33
    # = 0.27272... (scipy.stats.kruskal agrees); mirror the float ops
    import math

    h = 12.0 * (125.0 + 180.0) / (10.0 * 11.0) - 33.0
    assert r["h_q6"] == math.floor(h * 1e6) / 1e6
    assert abs(r["h_q6"] - 0.272727) < 2e-6


# ---- mann_kendall ----


def test_mann_kendall_strictly_increasing(spark):
    # v = 1..4 over x = 1..4: S = 6, var18 = 4*3*13 = 156,
    # z = (6-1)/sqrt(156/18) = 1.698415...
    from png_from_pdf_extracter_spark.functions.stats import mann_kendall

    df = spark.createDataFrame(
        [("u", i, float(i)) for i in range(1, 5)],
        "g string, x long, v double",
    )
    r = mann_kendall(df, ("g",), "x", "v", quantize=0).collect()[0]
    assert (r["n"], r["s_stat"], r["var18"]) == (4, 6, 156)
    import math

    expect = math.floor((5.0 / math.sqrt(156.0 / 18.0)) * 1e6) / 1e6
    assert r["z_q6"] == expect


def test_mann_kendall_ties_and_sign(spark):
    # v=[1,1,2,2]: S=4, tie term 36, var18=120; decreasing mirror
    # flips the sign exactly
    from png_from_pdf_extracter_spark.functions.stats import mann_kendall

    up = spark.createDataFrame(
        [("u", 1, 1.0), ("u", 2, 1.0), ("u", 3, 2.0), ("u", 4, 2.0)],
        "g string, x long, v double",
    )
    r = mann_kendall(up, ("g",), "x", "v", quantize=0).collect()[0]
    assert (r["s_stat"], r["var18"]) == (4, 120)
    down = spark.createDataFrame(
        [("u", 1, 2.0), ("u", 2, 2.0), ("u", 3, 1.0), ("u", 4, 1.0)],
        "g string, x long, v double",
    )
    r2 = mann_kendall(down, ("g",), "x", "v", quantize=0).collect()[0]
    assert r2["s_stat"] == -4 and r2["var18"] == 120
    assert r2["z_q6"] is not None and r["z_q6"] is not None


def test_mann_kendall_constant_series_zero_variance_of_sign(spark):
    # all values equal: S=0 and the tie term removes ALL variance ->
    # z is null, not a division blowup
    from png_from_pdf_extracter_spark.functions.stats import mann_kendall

    df = spark.createDataFrame(
        [("u", i, 7.0) for i in range(1, 5)],
        "g string, x long, v double",
    )
    r = mann_kendall(df, ("g",), "x", "v", quantize=0).collect()[0]
    assert r["s_stat"] == 0 and r["var18"] == 0 and r["z_q6"] is None


# ---- cusum_drift ----


def test_cusum_prefix_form_equals_recursion(spark):
    # hand recursion for [5,5,9,9,2] target 5: S = [0,0,4,8,5]
    from png_from_pdf_extracter_spark.functions.stats import cusum_drift

    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate([5, 5, 9, 9, 2], 1)],
        "g string, t long, v double",
    )
    out = cusum_drift(
        df, ("g",), ("t",), "v", target_q=5, quantize=0, threshold_q=6
    ).orderBy("idx").collect()
    assert [r["cusum_q"] for r in out] == [0, 0, 4, 8, 5]
    assert [r["alarm"] for r in out] == [False, False, False, True, False]


def test_cusum_negative_start_clamps_at_zero(spark):
    # [2,9] target 5: recursion S1=max(0,-3)=0, S2=max(0,0+4)=4
    from png_from_pdf_extracter_spark.functions.stats import cusum_drift

    df = spark.createDataFrame(
        [("u", 1, 2.0), ("u", 2, 9.0)], "g string, t long, v double"
    )
    out = cusum_drift(
        df, ("g",), ("t",), "v", target_q=5, quantize=0
    ).orderBy("idx").collect()
    assert [r["cusum_q"] for r in out] == [0, 4]
    assert "alarm" not in out[0].asDict()


def test_cusum_matches_recursion_on_random_walk(spark):
    # brute-force the recursion on a deterministic pseudo-random series
    from png_from_pdf_extracter_spark.functions.stats import cusum_drift

    vals = [((i * 37 + 11) % 13) - 6 for i in range(40)]  # in [-6, 6]
    df = spark.createDataFrame(
        [("u", i, float(v)) for i, v in enumerate(vals, 1)],
        "g string, t long, v double",
    )
    out = cusum_drift(
        df, ("g",), ("t",), "v", target_q=0, slack_q=1, quantize=0
    ).orderBy("idx").collect()
    s, want = 0, []
    for v in vals:
        s = max(0, s + v - 1)
        want.append(s)
    assert [r["cusum_q"] for r in out] == want


# ---- bh_fdr ----


def test_bh_fdr_textbook_battery(spark):
    # p=[.01,.02,.03,.5], m=4, alpha=.05: thresholds k/m*alpha are
    # .0125/.025/.0375/.05 -> k*=3, reject the three smallest
    from png_from_pdf_extracter_spark.functions.stats import bh_fdr

    df = spark.createDataFrame(
        [(0.01,), (0.02,), (0.03,), (0.5,)], "p double"
    )
    out = bh_fdr(df, "p").orderBy("p_q").collect()
    assert [r["reject"] for r in out] == [True, True, True, False]
    assert [r["k_le"] for r in out] == [1, 2, 3, 4]
    assert all(r["m"] == 4 for r in out)


def test_bh_fdr_ties_share_the_largest_rank(spark):
    # four identical p=.04: the BH convention uses the LARGEST tied
    # rank, so .04 <= (4/4)*.05 and ALL are rejected (a row_number
    # formulation would wrongly reject none at rank 1)
    from png_from_pdf_extracter_spark.functions.stats import bh_fdr

    df = spark.createDataFrame([(0.04,)] * 4, "p double")
    out = bh_fdr(df, "p").collect()
    assert all(r["reject"] for r in out)
    assert all(r["k_le"] == 4 for r in out)


def test_bh_fdr_nothing_clears_and_grouped_batteries(spark):
    from png_from_pdf_extracter_spark.functions.stats import bh_fdr

    df = spark.createDataFrame(
        [("a", 0.9), ("a", 0.8), ("b", 0.001), ("b", 0.9)],
        "g string, p double",
    )
    out = {
        (r["g"], r["p_q"]): r["reject"]
        for r in bh_fdr(df, "p", group_cols=("g",)).collect()
    }
    # group a: nothing rejected; group b: only the tiny p
    assert out[("a", 900000)] is False and out[("a", 800000)] is False
    assert out[("b", 1000)] is True and out[("b", 900000)] is False


# ---- winsorize ----


def test_winsorize_clamps_tails_exact_quantiles(spark):
    # values 1..10, [20%, 80%] band: lo=2 (cum 2 reaches 10*0.2),
    # hi=8 (cum 8 reaches 10*0.8); 1 clamps up, 9 and 10 clamp down
    from png_from_pdf_extracter_spark.functions.stats import winsorize

    df = spark.createDataFrame(
        [(float(v),) for v in range(1, 11)], "v double"
    )
    out = winsorize(
        df, "v", lo_num=20, lo_den=100, hi_num=80, hi_den=100, quantize=0
    ).orderBy("v_q").collect()
    assert [r["v_wins"] for r in out] == [2, 2, 3, 4, 5, 6, 7, 8, 8, 8]
    assert [r["clamped"] for r in out] == (
        [True] + [False] * 7 + [True, True]
    )


def test_winsorize_per_group_thresholds_independent(spark):
    from png_from_pdf_extracter_spark.functions.stats import winsorize

    rows = [("a", float(v)) for v in (1, 2, 3, 100)] + [
        ("b", float(v)) for v in (10, 20, 30, 40)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        (r["g"], r["v_q"]): (r["v_wins"], r["clamped"])
        for r in winsorize(
            df, "v", ("g",), lo_num=25, lo_den=100,
            hi_num=75, hi_den=100, quantize=0,
        ).collect()
    }
    # group a: lo=1 (cum 1 >= 1), hi=3 (cum 3 >= 3); 100 clamps to 3
    assert out[("a", 100)] == (3, True)
    assert out[("a", 2)] == (2, False)
    # group b: lo=10, hi=30; 40 clamps to 30
    assert out[("b", 40)] == (30, True)
    assert out[("b", 20)] == (20, False)


# ---- keyness_g2 (functions/lm.py) ----


def test_keyness_g2_closed_form_and_direction(spark):
    # focus "x x y" vs reference "x y y y": for x, a=2 b=1 Na=3 Nb=4,
    # G2 = 2*(2*ln(2/(3*3/7)) + 1*ln(1/(4*3/7)))
    import math

    from png_from_pdf_extracter_spark.functions.lm import keyness_g2

    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "x y y y")], "cls string, text string"
    )
    out = {
        r["word"]: r
        for r in keyness_g2(
            df, "cls", "A", min_count=1, top_k=10
        ).collect()
    }
    rx = out["x"]
    assert (rx["a"], rx["b"]) == (2, 1)
    g2 = 2.0 * (
        2.0 * math.log(2.0 / (3.0 * 3.0 / 7.0))
        + 1.0 * math.log(1.0 / (4.0 * 3.0 / 7.0))
    )
    assert rx["g2_q"] == math.floor(g2 * 10000) / 10000
    assert rx["direction"] == 1  # over-represented in focus
    assert out["y"]["direction"] == -1


def test_keyness_g2_zero_cell_contributes_zero(spark):
    # 'z' appears only in the focus corpus: the b*ln(b/Eb) term is the
    # x*ln(x) limit 0, never a NaN/-inf
    import math

    from png_from_pdf_extracter_spark.functions.lm import keyness_g2

    df = spark.createDataFrame(
        [("A", "z z z"), ("B", "w w w")], "cls string, text string"
    )
    out = {
        r["word"]: r
        for r in keyness_g2(df, "cls", "A", min_count=1).collect()
    }
    rz = out["z"]
    assert rz["b"] == 0 and rz["direction"] == 1
    g2 = 2.0 * (3.0 * math.log(3.0 / (3.0 * 3.0 / 6.0)))
    assert rz["g2_q"] == math.floor(g2 * 10000) / 10000
    assert math.isfinite(rz["g2_q"])


def test_keyness_g2_equal_share_scores_zero(spark):
    # identical distribution in both corpora: G2 = 0, direction 0
    from png_from_pdf_extracter_spark.functions.lm import keyness_g2

    df = spark.createDataFrame(
        [("A", "x y"), ("B", "x y")], "cls string, text string"
    )
    for r in keyness_g2(df, "cls", "A", min_count=1).collect():
        assert r["g2_q"] == 0.0 and r["direction"] == 0


# ---- cusum associative lift (batch state + fold) ----


def test_cusum_fold_states_equals_batch_for_every_split(spark):
    """The streamability identity: for EVERY way of cutting the series
    into ordered segments, folding per-segment (t_sum, g_max) states
    must land exactly on the batch recursion's final value."""
    from png_from_pdf_extracter_spark.functions.stats import (
        cusum_batch_state,
        cusum_drift,
        cusum_fold_states,
    )

    vals = [((i * 53 + 7) % 17) - 8 for i in range(24)]  # in [-8, 8]
    rows = [("u", i, float(v)) for i, v in enumerate(vals, 1)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    want = (
        cusum_drift(df, ("g",), ("t",), "v", target_q=0, quantize=0)
        .orderBy(F.desc("idx"))
        .first()["cusum_q"]
    )
    for cuts in ([8], [1], [23], [5, 9], [3, 11, 17]):
        bounds = [0] + cuts + [len(rows)]
        states = []
        for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            seg = spark.createDataFrame(
                rows[lo:hi], "g string, t long, v double"
            )
            states.append(
                cusum_batch_state(
                    seg, ("g",), ("t",), "v", target_q=0, quantize=0
                ).withColumn("batch_id", F.lit(b))
            )
        st = states[0]
        for s in states[1:]:
            st = st.unionByName(s)
        folded = (
            cusum_fold_states(st, ("g",))
            .orderBy(F.desc("batch_id"))
            .first()["cusum_q"]
        )
        assert folded == want, (cuts, folded, want)


def test_cusum_batch_state_single_segment_is_whole_answer(spark):
    # one segment: fold == the state's own max(T, G) == batch answer
    from png_from_pdf_extracter_spark.functions.stats import (
        cusum_batch_state,
        cusum_drift,
        cusum_fold_states,
    )

    rows = [("u", i, float(v)) for i, v in enumerate([5, 1, 9, 2], 1)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    st = cusum_batch_state(
        df, ("g",), ("t",), "v", target_q=3, quantize=0
    ).withColumn("batch_id", F.lit(0))
    folded = cusum_fold_states(st, ("g",), threshold_q=5).collect()[0]
    want = (
        cusum_drift(df, ("g",), ("t",), "v", target_q=3, quantize=0)
        .orderBy(F.desc("idx"))
        .first()["cusum_q"]
    )
    assert folded["cusum_q"] == want
    assert folded["alarm"] == (want > 5)


# ---- Cramér's V / McNemar ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    cramers_v,
)
from png_from_pdf_extracter_spark.functions.evalmetrics import (  # noqa: E402
    mcnemar_test,
)


def test_cramers_v_perfect_association(spark):
    # diagonal table: a fully determines b -> V == 1
    rows = [("x", 1)] * 5 + [("y", 2)] * 7 + [("z", 3)] * 3
    df = spark.createDataFrame(rows, "a string, b int")
    r = cramers_v(df, "a", "b").collect()[0]
    assert r["n"] == 15 and r["r"] == 3 and r["c"] == 3
    assert abs(r["v_q6"] - 1.0) < 1e-5


def test_cramers_v_independent_near_zero(spark):
    # perfectly balanced 2x2: chi2 == 0 -> V == 0
    rows = [("x", 1), ("x", 2), ("y", 1), ("y", 2)] * 4
    df = spark.createDataFrame(rows, "a string, b int")
    r = cramers_v(df, "a", "b").collect()[0]
    assert r["chi2_q6"] == 0.0 and r["v_q6"] == 0.0


def test_cramers_v_degenerate_single_column_null(spark):
    rows = [("x", 1), ("y", 1), ("z", 1)]
    df = spark.createDataFrame(rows, "a string, b int")
    r = cramers_v(df, "a", "b").collect()[0]
    assert r["v_q6"] is None  # min(r,c)=1: V undefined


def test_mcnemar_closed_form(spark):
    # b=3 (A right, B wrong), c=1 -> (|3-1|-1)^2/4 = 0.25
    rows = (
        [(True, True, False)] * 3
        + [(True, False, True)] * 1
        + [(True, True, True)] * 6
    )
    df = spark.createDataFrame(rows, "label boolean, pa boolean, pb boolean")
    r = mcnemar_test(df, "label", "pa", "pb").collect()[0]
    assert (r["b"], r["c"]) == (3, 1)
    assert abs(r["mcnemar_q6"] - 0.25) < 1e-9
    assert r["acc_a_ppm"] == 900000 and r["acc_b_ppm"] == 700000


def test_mcnemar_no_discordant_null(spark):
    rows = [(True, True, True)] * 4
    df = spark.createDataFrame(rows, "label boolean, pa boolean, pb boolean")
    r = mcnemar_test(df, "label", "pa", "pb").collect()[0]
    assert r["mcnemar_q6"] is None and r["b"] == 0 and r["c"] == 0


# ---- Kendall tau-b / difference-in-differences ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    did_estimate,
    kendall_tau_b,
)


def _tau_b_ref(xs, ys):
    import math

    n = len(xs)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            dy = (ys[j] > ys[i]) - (ys[j] < ys[i])
            s += dx * dy
    m0 = n * (n - 1)
    m1 = sum(t * (t - 1) for t in __import__("collections").Counter(xs).values())
    m2 = sum(t * (t - 1) for t in __import__("collections").Counter(ys).values())
    return 2.0 * s / math.sqrt((m0 - m1) * (m0 - m2))


def test_kendall_tau_brute_force_with_ties(spark):
    xs = [1, 2, 2, 3, 5, 5, 7, 8]
    ys = [2, 1, 4, 4, 6, 5, 9, 9]
    rows = [("g", i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    r = kendall_tau_b(df, ("g",), "x", "y", "id", quantize=0).collect()[0]
    ref = _tau_b_ref(xs, ys)
    assert abs(r["tau_q6"] - ref) < 1e-5
    assert r["n"] == 8 and r["m0"] == 56


def test_kendall_tau_perfect_and_inverse(spark):
    rows = [("a", i, float(i), float(i)) for i in range(6)] + [
        ("b", i, float(i), float(-i)) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    out = {r["g"]: r for r in kendall_tau_b(df, ("g",), "x", "y", "id").collect()}
    assert out["a"]["tau_q6"] == 1.0
    assert out["b"]["tau_q6"] == -1.0


def test_kendall_tau_all_ties_null(spark):
    rows = [("g", i, 5.0, float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "g string, id long, x double, y double")
    r = kendall_tau_b(df, ("g",), "x", "y", "id").collect()[0]
    assert r["tau_q6"] is None  # x margin fully tied: denominator zero


def test_did_closed_form(spark):
    # treated: 10 -> 20 (delta 10); control: 5 -> 8 (delta 3); DiD = 7
    rows = (
        [(10.0, True, False)] * 3
        + [(20.0, True, True)] * 2
        + [(5.0, False, False)] * 4
        + [(8.0, False, True)] * 5
    )
    df = spark.createDataFrame(rows, "y double, t boolean, p boolean")
    r = did_estimate(df, "y", "t", "p").collect()[0]
    assert (r["n_tp"], r["n_tq"], r["n_cp"], r["n_cq"]) == (2, 3, 5, 4)
    assert abs(r["did_q6"] - 7.0) < 1e-9


def test_did_empty_cell_null(spark):
    rows = [(1.0, True, True), (2.0, False, True), (3.0, False, False)]
    df = spark.createDataFrame(rows, "y double, t boolean, p boolean")
    r = did_estimate(df, "y", "t", "p").collect()[0]
    assert r["did_q6"] is None  # no treated-pre cell


# ---- Cliff's delta / Cochran's Q ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    cliffs_delta,
    cochran_q,
)


def _delta_ref(a, b):
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    return (gt - lt) / (len(a) * len(b))


def test_cliffs_delta_brute_force(spark):
    a = [1.0, 2.0, 2.0, 5.0, 7.0]
    b = [2.0, 3.0, 3.0, 4.0]
    rows = [(x, "a") for x in a] + [(x, "b") for x in b]
    df = spark.createDataFrame(rows, "v double, g string")
    r = cliffs_delta(df, "v", "g", "a", "b", quantize=0).collect()[0]
    ref = _delta_ref(a, b)
    assert abs(r["delta_q6"] - ref) < 1e-5
    assert r["delta_num"] == round(ref * len(a) * len(b))


def test_cliffs_delta_extremes_and_bands(spark):
    rows = [(float(i), "a") for i in range(10, 15)] + [
        (float(i), "b") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "v double, g string")
    r = cliffs_delta(df, "v", "g", "a", "b").collect()[0]
    assert r["delta_q6"] == 1.0 and r["magnitude"] == "large"
    same = spark.createDataFrame(
        [(1.0, "a"), (1.0, "b")] * 3, "v double, g string"
    )
    r2 = cliffs_delta(same, "v", "g", "a", "b").collect()[0]
    assert r2["delta_q6"] == 0.0 and r2["magnitude"] == "negligible"


def test_cochran_q_textbook(spark):
    # Conover's 3-rater example shape: hand-computed reference
    grid = [
        (1, 1, 1), (1, 1, 1), (0, 1, 0), (1, 1, 0), (0, 0, 0),
        (1, 1, 1), (1, 1, 1), (0, 1, 0), (1, 0, 0), (0, 0, 0),
        (1, 1, 1), (1, 1, 1),
    ]
    rows = []
    for i, js in enumerate(grid):
        for j, s in enumerate(js):
            rows.append((i, f"r{j}", s))
    df = spark.createDataFrame(rows, "item long, rater string, s long")
    r = cochran_q(df, "item", "rater", "s").collect()[0]
    k = 3
    T = [sum(g[j] for g in grid) for j in range(3)]
    R = [sum(g) for g in grid]
    num = (k - 1) * (k * sum(t * t for t in T) - sum(T) ** 2)
    den = k * sum(R) - sum(r2 * r2 for r2 in R)
    import math

    assert abs(r["q_q6"] - math.floor(num / den * 1e6) / 1e6) < 1e-9
    assert r["k"] == 3 and r["n_items"] == len(grid)


def test_cochran_q_unanimous_null(spark):
    rows = [(i, f"r{j}", 1) for i in range(4) for j in range(3)]
    df = spark.createDataFrame(rows, "item long, rater string, s long")
    assert cochran_q(df, "item", "rater", "s").collect()[0]["q_q6"] is None


from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    hodges_lehmann,
)


def _hl_ref(xs):
    import statistics

    walsh = [
        (xs[i] + xs[j]) / 2
        for i in range(len(xs))
        for j in range(i, len(xs))
    ]
    return statistics.median(walsh)


def test_hodges_lehmann_brute_force(spark):
    xs = [1.0, 2.0, 4.0, 7.0, 11.0]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    r = hodges_lehmann(df, "v", quantize=0).collect()[0]
    assert r["n"] == 5 and r["n_walsh"] == 15
    assert abs(r["hl_q6"] - _hl_ref(xs)) < 1e-6


def test_hodges_lehmann_with_ties_and_groups(spark):
    xs_a = [1.0, 1.0, 2.0, 3.0]
    xs_b = [10.0, 20.0]
    rows = [("a", x) for x in xs_a] + [("b", x) for x in xs_b]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in hodges_lehmann(df, "v", ("g",), quantize=0).collect()
    }
    assert out["a"]["n_walsh"] == 10  # C(4,2) + 4 diagonal
    assert abs(out["a"]["hl_q6"] - _hl_ref(xs_a)) < 1e-6
    assert abs(out["b"]["hl_q6"] - _hl_ref(xs_b)) < 1e-6


def test_hodges_lehmann_outlier_robust(spark):
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 1e6]
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    r = hodges_lehmann(df, "v", quantize=0).collect()[0]
    assert 10.0 <= r["hl_q6"] <= 15.0  # one wild point cannot drag it


# ---- Page's L ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    page_trend_test,
)


def test_page_trend_perfect_order(spark):
    # values rise with treatment for every subject -> R_j = n * rank
    rows = [
        (s, f"t{j}", float(j)) for s in range(4) for j in range(1, 4)
    ]
    df = spark.createDataFrame(rows, "subj long, trt string, v double")
    r = page_trend_test(df, "subj", "trt", "v", quantize=0).collect()[0]
    n, k = 4, 3
    l2 = sum((j) * 2 * j * n for j in range(1, 4))  # ord j, rank j
    assert r["l2"] == l2
    e4 = n * k * (k + 1) ** 2
    v144 = n * k * k * (k + 1) * (k * k - 1)
    import math

    assert r["z_q6"] == math.floor(
        3.0 * (2 * l2 - e4) / math.sqrt(v144) * 1e6
    ) / 1e6
    assert r["z_q6"] > 2.0


def test_page_trend_flat_is_zero_z(spark):
    # within-subject ranks identical across treatments in expectation:
    # reversed order for half the subjects cancels -> z near 0
    rows = []
    for s in range(4):
        vals = [1.0, 2.0, 3.0] if s % 2 == 0 else [3.0, 2.0, 1.0]
        for j, v in enumerate(vals):
            rows.append((s, f"t{j}", v))
    df = spark.createDataFrame(rows, "subj long, trt string, v double")
    r = page_trend_test(df, "subj", "trt", "v", quantize=0).collect()[0]
    assert abs(r["z_q6"]) < 1e-6


# ---- runs test / Durbin-Watson ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    durbin_watson,
    runs_test,
)


def test_runs_test_alternating_vs_streaky(spark):
    import math

    # perfectly alternating around the median -> max runs, z > 0
    alt = [(i, float(i % 2)) for i in range(12)]
    df = spark.createDataFrame(alt, "o long, v double")
    r = runs_test(df, "v", "o", quantize=0).collect()[0]
    assert r["n1"] == 6 and r["n2"] == 6 and r["runs"] == 12
    n1 = n2 = 6
    n = 12
    mean_r = 1 + 2 * n1 * n2 / n
    var_r = 2 * n1 * n2 * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert r["z_q6"] == math.floor(
        (12 - mean_r) / math.sqrt(var_r) * 1e6
    ) / 1e6
    # fully streaky: 6 lows then 6 highs -> 2 runs, z < 0
    streak = [(i, 0.0 if i < 6 else 10.0) for i in range(12)]
    df2 = spark.createDataFrame(streak, "o long, v double")
    r2 = runs_test(df2, "v", "o", quantize=0).collect()[0]
    assert r2["runs"] == 2 and r2["z_q6"] < -2.0


def test_runs_test_median_values_excluded(spark):
    # odd n: exact-median value sits out; 2-1-2 remaining
    rows = [(0, 1.0), (1, 5.0), (2, 9.0), (3, 5.0), (4, 1.0)]
    df = spark.createDataFrame(rows, "o long, v double")
    r = runs_test(df, "v", "o", quantize=0).collect()[0]
    assert r["n1"] + r["n2"] == 3  # two 5.0s (the median) excluded


def test_runs_test_one_sided_null(spark):
    rows = [(i, 1.0 if i == 0 else 9.0) for i in range(5)]
    df = spark.createDataFrame(rows, "o long, v double")
    r = runs_test(df, "v", "o", quantize=0).collect()[0]
    # median side has everything above/below unbalanced but both
    # present; construct a truly one-sided case instead:
    df2 = spark.createDataFrame(
        [(0, 1.0), (1, 1.0), (2, 1.0)], "o long, v double"
    )
    r2 = runs_test(df2, "v", "o", quantize=0).collect()[0]
    assert r2["z_q6"] is None


def test_durbin_watson_reference(spark):
    xs = [3.0, 5.0, 2.0, 8.0, 7.0, 1.0]
    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "o long, v double"
    )
    r = durbin_watson(df, "v", "o", quantize=0).collect()[0]
    import math

    m = sum(xs) / len(xs)
    e = [x - m for x in xs]
    ref = sum(
        (e[t] - e[t - 1]) ** 2 for t in range(1, len(e))
    ) / sum(x * x for x in e)
    assert abs(r["dw_q6"] - math.floor(ref * 1e6) / 1e6) < 1e-9


def test_durbin_watson_constant_null_and_alternating(spark):
    const = spark.createDataFrame(
        [(i, 4.0) for i in range(5)], "o long, v double"
    )
    assert durbin_watson(const, "v", "o").collect()[0]["dw_q6"] is None
    alt = spark.createDataFrame(
        [(i, float(i % 2)) for i in range(50)], "o long, v double"
    )
    r = durbin_watson(alt, "v", "o", quantize=0).collect()[0]
    assert r["dw_q6"] > 3.5  # strong negative lag-1 autocorrelation


# ---- Mood's median test ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    mood_median_test,
)


def test_mood_median_closed_form(spark):
    import math

    # group a all below the grand median, group b all above
    rows = [("a", float(v)) for v in (1, 2, 3, 4)] + [
        ("b", float(v)) for v in (10, 11, 12, 13)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mood_median_test(df, "v", "g", quantize=0).collect()[0]
    # grand median between 4 and 10: 4 below / 4 above, fully separated
    # -> chi2 = N = 8 for a 2x2 with perfect association
    assert r["n"] == 8 and r["k"] == 2
    assert abs(r["chi2_q6"] - 8.0) < 1e-6
    assert r["above_total"] == 4
    _ = math


def test_mood_median_identical_groups_zero(spark):
    rows = [(g, float(v)) for g in ("a", "b") for v in (1, 2, 9, 10)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mood_median_test(df, "v", "g", quantize=0).collect()[0]
    assert r["chi2_q6"] == 0.0


def test_mood_median_excludes_exact_median_and_vacuous_null(spark):
    # odd value at the exact median is excluded from both sides
    rows = [("a", 1.0), ("a", 5.0), ("b", 5.0), ("b", 9.0), ("a", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mood_median_test(df, "v", "g", quantize=0).collect()[0]
    assert r["n"] == 2  # three 5.0s (the median) excluded
    # ALL values at the median -> every row excluded -> empty result
    # (same zero-row output from the DuckDB oracle shape)
    const = spark.createDataFrame(
        [("a", 2.0), ("b", 2.0)], "g string, v double"
    )
    assert mood_median_test(const, "v", "g").collect() == []
    # one-sided margin (every surviving value above the median side
    # used by group b only) -> chi2 is vacuous -> null, row still out
    skew = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 9.0)],
        "g string, v double",
    )
    r2 = mood_median_test(skew, "v", "g", quantize=0).collect()[0]
    assert r2["chi2_q6"] is None


from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    nelson_aalen,
    log_rank_test,
)


def test_nelson_aalen_hand_computed(spark):
    # t=1: d=1 n=4 -> +0.25 ; t=2: censored only ; t=3: d=2 n=2 -> +1.0
    rows = [(1, 1), (2, 0), (3, 1), (3, 1)]
    df = spark.createDataFrame(rows, "dur long, e int")
    out = {
        r["duration"]: r for r in nelson_aalen(df, "dur", "e").collect()
    }
    assert out[1]["hazard_q"] == 0.25 and out[1]["n_at_risk"] == 4
    assert out[2]["hazard_q"] == 0.25 and out[2]["c_censored"] == 1
    assert out[3]["hazard_q"] == 1.25 and out[3]["n_at_risk"] == 2


def test_nelson_aalen_monotone_and_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = [(rng.randint(0, 12), rng.randint(0, 1)) for _ in range(200)]
    df = spark.createDataFrame(rows, "dur long, e int")
    got = sorted(
        nelson_aalen(df, "dur", "e").collect(),
        key=lambda r: r["duration"],
    )
    # python twin of the quantized construction
    from collections import Counter

    d = Counter(t for t, e in rows if e == 1)
    c = Counter(t for t, e in rows if e == 0)
    ts = sorted(set(d) | set(c))
    n = len(rows)
    cum = 0
    import math

    prev = -1.0
    for r in ts:
        cum += math.floor(d.get(r, 0) * 1e9 / n)
        row = [x for x in got if x["duration"] == r][0]
        expect = math.floor(cum / 1e3) / 1e6
        assert row["hazard_q"] == expect
        assert row["hazard_q"] >= prev  # cumulative hazard is monotone
        prev = row["hazard_q"]
        n -= d.get(r, 0) + c.get(r, 0)


def test_log_rank_identical_arms_zero(spark):
    # both arms share the same (duration, event) multiset -> at every
    # event time d_a == d/2 and n_a == n/2, so O == E exactly and the
    # quantized chi2 is exactly 0
    base = [(1, 1), (2, 1), (3, 0), (4, 1), (5, 0)]
    rows = [(t, e, g) for g in (0, 1) for (t, e) in base]
    df = spark.createDataFrame(rows, "dur long, e int, arm int")
    r = log_rank_test(df, "dur", "e", "arm").collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["chi2_q6"] == 0.0 and r["o_a"] == 3


def test_log_rank_separated_arms_and_brute_force(spark):
    import math
    import random

    rng = random.Random(11)
    rows = [
        (rng.randint(1, 8) + (0 if g == 0 else 6), rng.randint(0, 1), g)
        for g in (0, 1)
        for _ in range(60)
    ]
    df = spark.createDataFrame(rows, "dur long, e int, arm int")
    r = log_rank_test(df, "dur", "e", "arm").collect()[0]
    # python twin: hypergeometric E and V per event time
    from collections import Counter

    da = Counter(t for t, e, g in rows if g == 0 and e == 1)
    db = Counter(t for t, e, g in rows if g == 1 and e == 1)
    ca = Counter(t for t, e, g in rows if g == 0 and e == 0)
    cb = Counter(t for t, e, g in rows if g == 1 and e == 0)
    ts = sorted(set(da) | set(db) | set(ca) | set(cb))
    ra = sum(1 for _, _, g in rows if g == 0)
    rb = len(rows) - ra
    oa = sum(da.values())
    e9 = v9 = 0
    for t in ts:
        d = da.get(t, 0) + db.get(t, 0)
        n = ra + rb
        if d > 0 and n > 1:
            e9 += math.floor(d * ra / n * 1e9)
            v9 += math.floor(
                d * ra * rb * (n - d) / (n * n * (n - 1)) * 1e9
            )
        ra -= da.get(t, 0) + ca.get(t, 0)
        rb -= db.get(t, 0) + cb.get(t, 0)
    assert r["o_a"] == oa
    assert r["e_a_q6"] == math.floor(e9 / 1e3) / 1e6
    assert r["v_q6"] == math.floor(v9 / 1e3) / 1e6
    # arm 0 fails early, arm 1 late -> strong separation
    assert r["chi2_q6"] > 10.0


def test_log_rank_no_mixing_null(spark):
    # a single subject: V == 0 -> chi2 null (vacuous comparison)
    df = spark.createDataFrame([(1, 1, 0)], "dur long, e int, arm int")
    r = log_rank_test(df, "dur", "e", "arm").collect()[0]
    assert r["chi2_q6"] is None


def test_welch_identical_arms_zero(spark):
    from png_from_pdf_extracter_spark.functions.stats import welch_t_test

    base = [1.0, 2.0, 3.5, 4.25, 9.0]
    rows = [(v, g) for g in (0, 1) for v in base]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = welch_t_test(df, "v", "arm", quantize=2).collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    assert r["mean_a_q6"] == r["mean_b_q6"]
    assert r["t_q6"] == 0.0 and r["d_q6"] == 0.0


def test_welch_python_twin(spark):
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from png_from_pdf_extracter_spark.functions.stats import welch_t_test

    def q2(v):
        # Spark F.round on DoubleType = BigDecimal.valueOf (shortest
        # decimal repr, like Python repr) + HALF_UP — NOT banker's.
        return int(
            Decimal(repr(v * 100.0)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    rng = random.Random(23)
    rows = [(round(rng.uniform(0, 50), 3) + (0 if g == 0 else 7.5), g)
            for g in (0, 1) for _ in range(80)]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = welch_t_test(df, "v", "arm", quantize=2).collect()[0]
    a = [q2(v) for v, g in rows if g == 0]
    b = [q2(v) for v, g in rows if g == 1]
    na, nb = len(a), len(b)
    ma, mb = sum(a) / na, sum(b) / nb
    va = (sum(x * x for x in a) - ma * sum(a)) / (na - 1)
    vb = (sum(x * x for x in b) - mb * sum(b)) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / math.sqrt(se2)
    dfree = se2 * se2 / (
        (va / na) ** 2 / (na - 1) + (vb / nb) ** 2 / (nb - 1)
    )
    assert r["t_q6"] == math.floor(t * 1e6) / 1e6
    assert r["df_q6"] == math.floor(dfree * 1e6) / 1e6
    # arm B is shifted +7.5 (~half an sd of U(0,50)) -> t clearly negative
    assert r["t_q6"] < -2.0
    # Welch df bounded by n_a + n_b - 2
    assert 1.0 <= r["df_q6"] <= na + nb - 2


def test_welch_degenerate_null(spark):
    from png_from_pdf_extracter_spark.functions.stats import welch_t_test

    df = spark.createDataFrame(
        [(1.0, 0), (2.0, 1), (3.0, 1)], "v double, arm int"
    )
    r = welch_t_test(df, "v", "arm").collect()[0]
    assert r["t_q6"] is None and r["df_q6"] is None


def test_cochran_armitage_perfect_trend(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        cochran_armitage,
    )

    # rate rises 10% -> 90% across five doses
    rows = []
    for dose, rate in enumerate([0.1, 0.3, 0.5, 0.7, 0.9]):
        k = int(rate * 20)
        rows += [(dose, 1)] * k + [(dose, 0)] * (20 - k)
    df = spark.createDataFrame(rows, "dose long, e int")
    r = cochran_armitage(df, "dose", "e").collect()[0]
    assert r["n"] == 100 and r["k_doses"] == 5
    assert r["z_q6"] > 5.0 and r["chi2_q6"] > 25.0


def test_cochran_armitage_flat_rate_exact_zero(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        cochran_armitage,
    )

    # r_j proportional to n_j at every dose -> numerator is exactly 0
    rows = []
    for dose in range(4):
        rows += [(dose, 1)] * 5 + [(dose, 0)] * 15
    df = spark.createDataFrame(rows, "dose long, e int")
    r = cochran_armitage(df, "dose", "e").collect()[0]
    assert r["chi2_q6"] == 0.0 and r["z_q6"] == 0.0


def test_cochran_armitage_python_twin_and_degenerate(spark):
    import math
    import random

    from png_from_pdf_extracter_spark.functions.stats import (
        cochran_armitage,
    )

    rng = random.Random(7)
    rows = [
        (d, 1 if rng.random() < 0.2 + 0.1 * d else 0)
        for d in range(6)
        for _ in range(30)
    ]
    df = spark.createDataFrame(rows, "dose long, e int")
    r = cochran_armitage(df, "dose", "e").collect()[0]
    n = len(rows)
    rr = sum(e for _, e in rows)
    sxn = sum(d for d, _ in rows)
    sxr = sum(d for d, e in rows if e)
    sxx = sum(d * d for d, _ in rows)
    num = n * sxr - rr * sxn
    den = rr * (n - rr) * (n * sxx - sxn * sxn)
    chi2 = n * num * num / den
    assert r["chi2_q6"] == math.floor(chi2 * 1e6) / 1e6
    assert r["z_q6"] == math.floor(
        math.copysign(math.sqrt(chi2), num) * 1e6
    ) / 1e6
    # degenerate: single dose level -> null
    one = spark.createDataFrame([(2, 1), (2, 0)], "dose long, e int")
    assert cochran_armitage(one, "dose", "e").collect()[0]["chi2_q6"] is None
    # degenerate: zero events -> null
    zero = spark.createDataFrame([(1, 0), (2, 0)], "dose long, e int")
    assert cochran_armitage(zero, "dose", "e").collect()[0]["z_q6"] is None


def test_cvm_identical_arms_small(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        cramer_von_mises_2s,
    )

    base = [1.0, 2.0, 3.0, 4.0, 5.0]
    rows = [(v, g) for g in (0, 1) for v in base]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = cramer_von_mises_2s(df, "v", "arm", quantize=2).collect()[0]
    assert r["n_a"] == 5 and r["n_b"] == 5
    # identical samples: F_n == G_m at every pooled point -> T == 0
    assert r["t_q6"] == 0.0


def test_cvm_python_twin(spark):
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from png_from_pdf_extracter_spark.functions.stats import (
        cramer_von_mises_2s,
    )

    def q2(v):
        return int(
            Decimal(repr(v * 100.0)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    rng = random.Random(7)
    rows = [(round(rng.uniform(0, 20), 2), 0) for _ in range(60)] + [
        (round(rng.uniform(5, 25), 2), 1) for _ in range(45)
    ]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = cramer_von_mises_2s(df, "v", "arm", quantize=2).collect()[0]
    a = sorted(q2(v) for v, g in rows if g == 0)
    b = sorted(q2(v) for v, g in rows if g == 1)
    n, m = len(a), len(b)
    pooled = sorted(set(a) | set(b))
    u = 0
    for z in pooled:
        c = a.count(z) + b.count(z)
        ka = sum(1 for x in a if x <= z)
        kb = sum(1 for x in b if x <= z)
        u += c * (m * ka - n * kb) ** 2
    t = u / (n * m * (n + m) * (n + m))
    assert r["n_a"] == n and r["n_b"] == m
    assert r["t_q6"] == math.floor(t * 1e6) / 1e6
    # shifted arm -> clearly positive criterion
    assert r["t_q6"] > 0.05


def test_cvm_degenerate_one_arm(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        cramer_von_mises_2s,
    )

    df = spark.createDataFrame([(1.0, 0), (2.0, 0)], "v double, arm int")
    r = cramer_von_mises_2s(df, "v", "arm", quantize=2).collect()[0]
    assert r["n_b"] == 0 and r["t_q6"] is None


def test_energy_distance_identical_zero_and_shift(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        energy_distance_2s,
    )

    base = [1.0, 2.0, 3.0, 7.0]
    rows = [(v, g) for g in (0, 1) for v in base]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = energy_distance_2s(df, "v", "arm", quantize=2).collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 4 and r["d2_q6"] == 0.0
    # disjoint shifted arms: D^2 -> 2*shift - spread terms, strictly > 0
    rows2 = [(v, 0) for v in base] + [(v + 100.0, 1) for v in base]
    df2 = spark.createDataFrame(rows2, "v double, arm int")
    r2 = energy_distance_2s(df2, "v", "arm", quantize=2).collect()[0]
    assert r2["d2_q6"] > 100.0


def test_energy_distance_python_twin(spark):
    import math
    import random

    import pytest
    from decimal import ROUND_HALF_UP, Decimal

    from png_from_pdf_extracter_spark.functions.stats import (
        energy_distance_2s,
    )

    def q2(v):
        return int(
            Decimal(repr(v * 100.0)).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP
            )
        )

    rng = random.Random(11)
    rows = [(round(rng.uniform(0, 30), 2), 0) for _ in range(50)] + [
        (round(rng.uniform(10, 45), 2), 1) for _ in range(35)
    ]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = energy_distance_2s(df, "v", "arm", quantize=2).collect()[0]
    a = [q2(v) for v, g in rows if g == 0]
    b = [q2(v) for v, g in rows if g == 1]
    n, m = len(a), len(b)
    exy = sum(abs(x - y) for x in a for y in b) / (n * m)
    exx = sum(abs(x - y) for x in a for y in a) / (n * n)
    eyy = sum(abs(x - y) for x in b for y in b) / (m * m)
    d2 = (2.0 * exy - exx - eyy) / 100.0
    # the sweep identity is exact in integers; only the final float
    # assembly differs in op order from the brute force, so compare to
    # 1e-9 rather than bit-equality, then pin the q6 floor loosely
    assert abs((2 * sum(abs(x - y) for x in a for y in b)) / (n * m)
               - 2.0 * exy) < 1e-9
    assert r["d2_q6"] == pytest.approx(math.floor(d2 * 1e6) / 1e6, abs=2e-6)
    assert r["d2_q6"] > 0


def test_energy_distance_one_arm_null(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        energy_distance_2s,
    )

    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "v double, arm int")
    r = energy_distance_2s(df, "v", "arm", quantize=2).collect()[0]
    assert r["d2_q6"] is None


def test_hill_tail_pareto_recovers_alpha(spark):
    import random

    from png_from_pdf_extracter_spark.functions.stats import (
        hill_tail_index,
    )

    # exact Pareto(alpha=2) quantiles: x_i = (1 - u_i)^(-1/2), u_i
    # uniform grid -> Hill over the top tail estimates ~2
    n = 4000
    vals = [(1.0 - (i + 0.5) / n) ** -0.5 * 100.0 for i in range(n)]
    rng = random.Random(5)
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = hill_tail_index(df, "v", k=200, quantize=2).collect()[0]
    assert r["n"] == n and r["k"] == 200
    assert 1.6 < r["alpha_q6"] < 2.4


def test_hill_tail_python_twin_with_ties(spark):
    import math

    from png_from_pdf_extracter_spark.functions.stats import (
        hill_tail_index,
    )

    # heavy ties straddling the k boundary exercise the rank-capped
    # multiplicity logic
    vals = [50.0] * 3 + [40.0] * 4 + [30.0] * 6 + [20.0] * 10 + [10.0] * 20
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    k = 8
    r = hill_tail_index(df, "v", k=k, quantize=0).collect()[0]
    s = sorted(vals, reverse=True)
    topk = s[:k]
    xref = s[k]
    gap = sum(math.log(x) for x in topk) / k - math.log(xref)
    assert r["k"] == k and r["xref"] == xref
    assert r["alpha_q6"] == math.floor(1.0 / gap * 1e6) / 1e6


def test_hill_tail_degenerate_null(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        hill_tail_index,
    )

    df = spark.createDataFrame([(5.0,)] * 30, "v double")
    r = hill_tail_index(df, "v", k=10, quantize=0).collect()[0]
    assert r["alpha_q6"] is None


def test_cuped_python_twin_and_variance_reduction(spark):
    import math
    import random

    from png_from_pdf_extracter_spark.functions.stats import cuped_adjust

    rng = random.Random(17)
    rows = []
    for i in range(200):
        pre = rng.uniform(10, 50)
        arm = i % 2
        # post = pre signal + arm effect + noise -> strong correlation
        post = pre * 2.0 + (5.0 if arm == 1 else 0.0) + rng.uniform(-3, 3)
        rows.append((round(pre, 2), round(post, 2), arm))
    df = spark.createDataFrame(rows, "pre double, post double, arm int")
    r = cuped_adjust(df, "pre", "post", "arm", quantize=2).collect()[0]
    x = [int(round(p * 100)) for p, _, _ in rows]
    y = [int(round(q * 100)) for _, q, _ in rows]
    n = len(rows)
    sx, sy = sum(x), sum(y)
    cov = sum(a * b for a, b in zip(x, y)) - sx * sy / n
    varx = sum(a * a for a in x) - sx * sx / n
    vary = sum(b * b for b in y) - sy * sy / n
    theta = cov / varx
    assert abs(r["theta_q6"] - theta) < 1e-5
    assert r["rho2_q6"] > 0.9  # strong pre/post correlation by design
    # adjusted diff stays close to the planted +5 arm effect
    adj_diff = r["adj_b_q6"] - r["adj_a_q6"]
    assert 4.0 < adj_diff < 6.0
    assert r["mean_a_q6"] is not None and r["mean_b_q6"] is not None
    assert math.isfinite(adj_diff)


def test_cuped_zero_pre_variance_null(spark):
    from png_from_pdf_extracter_spark.functions.stats import cuped_adjust

    df = spark.createDataFrame(
        [(3.0, 1.0, 0), (3.0, 2.0, 1), (3.0, 4.0, 0), (3.0, 9.0, 1)],
        "pre double, post double, arm int",
    )
    r = cuped_adjust(df, "pre", "post", "arm", quantize=2).collect()[0]
    assert r["theta_q6"] is None and r["adj_a_q6"] is None
    assert r["mean_a_q6"] is not None


def test_jackknife_python_twin(spark):
    import math
    import random

    from png_from_pdf_extracter_spark.functions.stats import (
        jackknife_group_se,
    )

    rng = random.Random(41)
    rows = []
    for g in range(8):
        mu = 10 + g * 3
        for _ in range(30):
            rows.append((round(rng.gauss(mu, 2), 2), f"g{g}"))
    df = spark.createDataFrame(rows, "v double, grp string")
    r = jackknife_group_se(df, "v", "grp", quantize=2).collect()[0]
    q = [(int(round(v * 100)), g) for v, g in rows]
    per = {}
    for v, g in q:
        n, s = per.get(g, (0, 0))
        per[g] = (n + 1, s + v)
    n_tot = sum(n for n, _ in per.values())
    s_tot = sum(s for _, s in per.values())
    thetas = [
        (s_tot - s) / (n_tot - n) for _, (n, s) in sorted(per.items())
    ]
    gg = len(thetas)
    var = (gg - 1) / gg * (
        sum(t * t for t in thetas) - sum(thetas) ** 2 / gg
    )
    assert r["g"] == 8 and r["n"] == n_tot
    assert abs(r["se_q6"] - math.sqrt(var) / 100.0) < 1e-5
    # between-group spread is large by design -> SE well above iid SE
    assert r["se_q6"] > 0.5


def test_jackknife_degenerate_single_group(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        jackknife_group_se,
    )

    df = spark.createDataFrame(
        [(1.0, "only"), (2.0, "only")], "v double, grp string"
    )
    r = jackknife_group_se(df, "v", "grp", quantize=2).collect()[0]
    assert r["se_q6"] is None and r["mean_q6"] == 1.5


def test_group_influence_signs_and_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        group_influence,
    )

    rows = (
        [(10.0, "low")] * 4 + [(20.0, "mid")] * 4 + [(90.0, "high")] * 2
    )
    df = spark.createDataFrame(rows, "v double, grp string")
    out = {
        r["group"]: r
        for r in group_influence(df, "v", "grp", quantize=2).collect()
    }
    # removing the heavy group drops the mean -> negative delta;
    # removing a light group raises it -> positive delta
    assert out["high"]["delta_q6"] < 0
    assert out["low"]["delta_q6"] > 0
    # python twin for one group (cent units)
    s = sum(int(v * 100) for v, _ in rows)
    n = len(rows)
    s_low = 4 * 1000
    loo = (s - s_low) / (n - 4)
    import math

    exp = math.floor((loo - s / n) / 100.0 * 1e6) / 1e6
    assert out["low"]["delta_q6"] == exp
    # single-group corpus -> null delta
    one = spark.createDataFrame([(1.0, "x")], "v double, grp string")
    r = group_influence(one, "v", "grp", quantize=2).collect()[0]
    assert r["delta_q6"] is None


def test_holm_step_down_textbook(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        bh_fdr,
        holm_bonferroni,
    )

    # m=5, alpha=0.05: thresholds 0.01, 0.0125, 0.0167, 0.025, 0.05
    ps = [0.005, 0.011, 0.02, 0.04, 0.6]
    df = spark.createDataFrame([(p,) for p in ps], "p double")
    out = {
        r["p_q"]: r["reject"]
        for r in holm_bonferroni(df, "p").collect()
    }
    # 0.005 <= 0.01 reject; 0.011 <= 0.0125 reject; 0.02 > 0.0167 stop
    assert out[5000] and out[11000]
    assert not out[20000] and not out[40000] and not out[600000]
    # Holm never rejects more than BH on the same battery
    bh = {r["p_q"]: r["reject"] for r in bh_fdr(df, "p").collect()}
    assert all((not h) or bh[p] for p, h in out.items())


def test_holm_tie_convention_shares_fate(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        holm_bonferroni,
    )

    # two tied smallest p straddle the per-position threshold: with
    # min-rank ties BOTH get multiplier (m - 1 + 1) = 3 -> 0.0166
    df = spark.createDataFrame(
        [(0.012,), (0.012,), (0.5,)], "p double"
    )
    rows = holm_bonferroni(df, "p").collect()
    tied = [r for r in rows if r["p_q"] == 12000]
    assert len(tied) == 2
    assert tied[0]["reject"] == tied[1]["reject"] == True  # noqa: E712
    assert all(r["r_min"] == 1 for r in tied)


def test_yuen_python_twin(spark):
    import math
    import random

    from png_from_pdf_extracter_spark.functions.stats import (
        yuen_trimmed_t,
    )

    rng = random.Random(47)
    rows = [(round(rng.uniform(0, 20), 2), 0) for _ in range(60)] + [
        (round(rng.uniform(4, 24), 2), 1) for _ in range(45)
    ]
    df = spark.createDataFrame(rows, "v double, arm int")
    r = yuen_trimmed_t(df, "v", "arm", quantize=2).collect()[0]

    def arm_stats(vals, trim=0.2):
        s = sorted(vals)
        n = len(s)
        g = int(n * 1 // 5)
        trimmed = s[g:n - g]
        h = len(trimmed)
        tmean = sum(trimmed) / h
        w = [min(max(x, s[g]), s[n - g - 1]) for x in s]
        sw = (sum(x * x for x in w) - sum(w) ** 2 / n) / (n - 1)
        d = (n - 1) * sw / (h * (h - 1))
        return n, h, tmean, d

    a = [int(round(v * 100)) for v, g in rows if g == 0]
    b = [int(round(v * 100)) for v, g in rows if g == 1]
    # arm A = broadcast-min group (arm col value 0) -> tagged __arm=1
    na, ha, ma, da = arm_stats(a)
    nb, hb, mb, db = arm_stats(b)
    t = (ma - mb) / math.sqrt(da + db)
    dfree = (da + db) ** 2 / (da * da / (ha - 1) + db * db / (hb - 1))
    assert (r["n_a"], r["n_b"], r["h_a"], r["h_b"]) == (na, nb, ha, hb)
    assert abs(r["tmean_a_q6"] - ma / 100.0) < 1e-5
    assert abs(r["t_q6"] - t) < 1e-5
    assert abs(r["df_q6"] - dfree) < 1e-4
    # planted +4 shift -> clearly negative t
    assert r["t_q6"] < -2.0


def test_yuen_outlier_immunity_vs_welch(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        welch_t_test,
        yuen_trimmed_t,
    )

    # identical arms except B carries two absurd outliers; Welch's t
    # is dragged, Yuen's stays near zero
    base = [float(x) for x in range(10, 50)]
    rows = [(x, 0) for x in base] + [(x, 1) for x in base] + [
        (100000.0, 1), (-90000.0, 1)
    ]
    df = spark.createDataFrame(rows, "v double, arm int")
    y = yuen_trimmed_t(df, "v", "arm", quantize=2).collect()[0]
    w = welch_t_test(df, "v", "arm", quantize=2).collect()[0]
    assert abs(y["t_q6"]) < 0.5
    assert abs(y["tmean_a_q6"] - y["tmean_b_q6"]) < 2.0
    # Welch sees a huge variance blowup instead
    assert w is not None


def test_yuen_degenerate_null(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        yuen_trimmed_t,
    )

    df = spark.createDataFrame(
        [(1.0, 0), (1.0, 0), (2.0, 1), (2.0, 1)], "v double, arm int"
    )
    r = yuen_trimmed_t(df, "v", "arm", quantize=2).collect()[0]
    # constant arms: winsorized variances 0 -> t null
    assert r["t_q6"] is None


def test_rmst_hand_computed_and_horizon(spark):
    import math

    from png_from_pdf_extracter_spark.functions.stats import rmst

    # events at t=2 (d=1 of n=4) and t=5 (d=1 of n=3); censor at t=8
    rows = [(2, 1), (5, 1), (8, 0), (10, 1)]
    df = spark.createDataFrame(rows, "t long, e int")
    r = rmst(df, "t", "e", tau=9).collect()[0]
    s1 = math.floor(math.exp(math.floor(math.log(1 - 1 / 4) * 1e9) / 1e9) * 1e6) / 1e6
    s2 = math.floor(math.exp(
        (math.floor(math.log(1 - 1 / 4) * 1e9)
         + math.floor(math.log(1 - 1 / 3) * 1e9)) / 1e9) * 1e6) / 1e6
    # S=1 on [0,2), s1 on [2,5), s2 on [5,8), s2 on [8,9) (censor step)
    exp = 2 * 1.0 + s1 * 3 + s2 * 3 + s2 * 1
    assert r["tau"] == 9 and r["t_first"] == 2
    assert abs(r["rmst_q6"] - exp) < 2e-6
    # horizon before the first event: RMST = tau exactly
    r2 = rmst(df, "t", "e", tau=2).collect()[0]
    assert r2["rmst_q6"] == 2.0
    # no censoring, far horizon: RMST below tau
    r3 = rmst(df, "t", "e", tau=100).collect()[0]
    assert r3["rmst_q6"] < 100.0


def test_interrater_reliability_numpy_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        interrater_reliability,
    )
    import numpy as np

    # 6 subjects x 3 items, correlated columns -> high alpha
    mat = np.array(
        [
            [4, 5, 4],
            [3, 3, 4],
            [5, 5, 5],
            [2, 2, 3],
            [4, 4, 5],
            [1, 2, 1],
        ],
        dtype=float,
    )
    rows = [
        (s, f"item{i}", float(mat[s, i]))
        for s in range(mat.shape[0])
        for i in range(mat.shape[1])
    ]
    df = spark.createDataFrame(rows, "s long, i string, v double")
    r = interrater_reliability(df, "s", "i", "v", quantize=0).collect()[0]
    n, k = mat.shape
    item_var = mat.var(axis=0, ddof=1).sum()
    tot_var = mat.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1) * (1 - item_var / tot_var)
    # two-way ANOVA mean squares for ICC(2,1)
    g = mat.sum()
    cf = g * g / (n * k)
    ss_tot = (mat**2).sum() - cf
    ss_rows = (mat.sum(axis=1) ** 2).sum() / k - cf
    ss_cols = (mat.sum(axis=0) ** 2).sum() / n - cf
    msr = ss_rows / (n - 1)
    msc = ss_cols / (k - 1)
    mse = (ss_tot - ss_rows - ss_cols) / ((n - 1) * (k - 1))
    icc2 = (msr - mse) / (msr + (k - 1) * mse + k * (msc - mse) / n)
    assert r["n_subjects"] == n and r["k_items"] == k
    assert abs(r["alpha_q6"] - alpha) < 2e-6
    assert abs(r["icc2_q6"] - icc2) < 2e-6
    assert r["alpha_q6"] > 0.8  # coherent items


def test_interrater_reliability_uncorrelated_low_alpha(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        interrater_reliability,
    )

    # anti-correlated items -> alpha near or below 0
    rows = []
    for s in range(8):
        rows.append((s, "a", float(s)))
        rows.append((s, "b", float(7 - s)))
    df = spark.createDataFrame(rows, "s long, i string, v double")
    r = interrater_reliability(df, "s", "i", "v", quantize=0).collect()[0]
    assert r["alpha_q6"] is None or r["alpha_q6"] < 0.1


def test_concordance_perfect_and_shifted(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        concordance_agreement,
    )

    rows = [("g", float(i), float(i)) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = concordance_agreement(df, "x", "y", ("g",), quantize=2).collect()[0]
    assert r["ccc_q6"] >= 1.0 - 2e-6 and r["pearson_q6"] >= 1.0 - 2e-6
    assert abs(r["bias_q6"]) < 1e-6
    assert abs(r["loa_lo_q6"]) < 1e-6 and abs(r["loa_hi_q6"]) < 1e-6

    # constant shift: pearson stays 1, CCC drops, bias = shift
    rows2 = [("g", float(i), float(i) + 5.0) for i in range(1, 21)]
    df2 = spark.createDataFrame(rows2, "g string, x double, y double")
    r2 = concordance_agreement(df2, "x", "y", ("g",), quantize=2).collect()[
        0
    ]
    assert r2["pearson_q6"] >= 1.0 - 2e-6
    assert r2["ccc_q6"] < 0.8
    assert abs(r2["bias_q6"] + 5.0) < 1e-5


def test_concordance_numpy_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        concordance_agreement,
    )
    import numpy as np

    rng = [
        (3.1, 2.7), (4.0, 4.4), (5.5, 5.0), (2.2, 2.9), (6.1, 5.8),
        (7.3, 7.9), (1.4, 1.1), (8.8, 8.1), (0.5, 0.9), (9.9, 9.2),
    ]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in rng], "g string, x double, y double"
    )
    r = concordance_agreement(df, "x", "y", ("g",), quantize=2).collect()[0]
    x = np.array([round(v[0] * 100) for v in rng], dtype=float)
    y = np.array([round(v[1] * 100) for v in rng], dtype=float)
    n = len(x)
    cxx, cyy = x.var(), y.var()
    cxy = ((x - x.mean()) * (y - y.mean())).mean()
    ccc = 2 * cxy / (cxx + cyy + (x.mean() - y.mean()) ** 2)
    d = x - y
    bias = d.mean() / 100.0
    half = 1.96 * d.std(ddof=1) / 100.0
    assert abs(r["ccc_q6"] - ccc) < 2e-6
    assert abs(r["bias_q6"] - bias) < 2e-6
    assert abs(r["loa_lo_q6"] - (bias - half)) < 2e-6
    assert abs(r["loa_hi_q6"] - (bias + half)) < 2e-6


def test_inequality_indices_equal_and_concentrated(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        inequality_indices,
    )
    import math

    rows = [("eq", 50.0)] * 10 + [("con", 1.0)] * 9 + [("con", 991.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in inequality_indices(df, "v", ("g",), quantize=0).collect()
    }
    assert abs(out["eq"]["theil_q6"]) < 2e-6
    assert abs(out["eq"]["atkinson_q6"]) < 2e-6
    # numpy twin for the concentrated group
    xs = [1.0] * 9 + [991.0]
    n, tot = len(xs), sum(xs)
    theil = sum(x / tot * math.log(x * n / tot) for x in xs)
    geo = math.exp(sum(math.log(x) for x in xs) / n)
    atk = 1.0 - geo / (tot / n)
    assert abs(out["con"]["theil_q6"] - theil) < 1e-5
    assert abs(out["con"]["atkinson_q6"] - atk) < 1e-5
    assert out["con"]["theil_q6"] > 1.5 and out["con"]["atkinson_q6"] > 0.9


def test_inequality_drops_nonpositive(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        inequality_indices,
    )

    df = spark.createDataFrame(
        [("g", 0.0), ("g", -5.0), ("g", 10.0), ("g", 10.0)],
        "g string, v double",
    )
    r = inequality_indices(df, "v", ("g",), quantize=0).collect()[0]
    assert r["n"] == 2 and abs(r["theil_q6"]) < 2e-6


def _midranks(vals, pool):
    """Midrank of each v in vals within the sorted pool."""
    import bisect

    sp = sorted(pool)
    out = []
    for v in vals:
        lo = bisect.bisect_left(sp, v)
        hi = bisect.bisect_right(sp, v)
        out.append((lo + 1 + hi) / 2.0)
    return out


def test_brunner_munzel_python_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        brunner_munzel,
    )
    import math

    xs = [1.0, 2.0, 2.0, 4.0, 5.0, 7.0, 7.0, 9.0]
    ys = [3.0, 4.0, 4.0, 6.0, 7.0, 8.0, 10.0, 12.0, 12.0]
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "v", "g", "a", "b", quantize=0).collect()[0]

    pool = xs + ys
    na, nb = len(xs), len(ys)
    rx = _midranks(xs, pool)
    ry = _midranks(ys, pool)
    rxw = _midranks(xs, xs)
    ryw = _midranks(ys, ys)
    rbx, rby = sum(rx) / na, sum(ry) / nb
    s2x = sum(
        (rx[i] - rxw[i] - rbx + (na + 1) / 2.0) ** 2 for i in range(na)
    ) / (na - 1)
    s2y = sum(
        (ry[i] - ryw[i] - rby + (nb + 1) / 2.0) ** 2 for i in range(nb)
    ) / (nb - 1)
    t = na * s2x + nb * s2y
    w = na * nb * (rby - rbx) / (na + nb) / math.sqrt(t)
    dof = t * t / (
        (na * s2x) ** 2 / (na - 1) + (nb * s2y) ** 2 / (nb - 1)
    )
    p_hat = (rby - (nb + 1) / 2.0) / na
    assert r["n_a"] == na and r["n_b"] == nb
    assert abs(r["p_hat_q6"] - p_hat) < 2e-6
    assert abs(r["w_q6"] - w) < 2e-6
    assert abs(r["df_q6"] - dof) < 1e-4
    assert r["p_hat_q6"] > 0.5  # b stochastically larger


def test_brunner_munzel_symmetric_near_zero(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        brunner_munzel,
    )

    rows = [("a", float(i)) for i in range(20)] + [
        ("b", float(i) + 0.5) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "v", "g", "a", "b", quantize=1).collect()[0]
    # near-identical distributions: p_hat ~ 0.5, |W| small
    assert abs(r["p_hat_q6"] - 0.5) < 0.06
    assert abs(r["w_q6"]) < 1.0


def test_brunner_munzel_disjoint_degenerate(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        brunner_munzel,
    )

    rows = [("a", 1.0)] * 5 + [("b", 9.0)] * 5
    df = spark.createDataFrame(rows, "g string, v double")
    r = brunner_munzel(df, "v", "g", "a", "b", quantize=0).collect()[0]
    # complete separation with constant samples: variance 0 -> W null
    assert r["w_q6"] is None and r["df_q6"] is None
    assert r["p_hat_q6"] == 1.0


def test_cucconi_python_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import cucconi_test
    import math

    xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]
    ys = [2.5, 3.5, 3.5, 5.5, 6.5, 10.0, 11.0]
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    r = cucconi_test(df, "v", "g", "a", "b", quantize=1).collect()[0]

    pool = sorted(xs + ys)
    n = len(pool)
    s_ranks = _midranks(ys, pool)
    ss2 = sum(s * s for s in s_ranks)
    sc2 = sum((n + 1 - s) ** 2 for s in s_ranks)
    na, nb = len(xs), len(ys)
    den = math.sqrt(
        na * nb * (n + 1) * (2 * n + 1) * (8 * n + 11) / 5.0
    )
    u = (6 * ss2 - nb * (n + 1) * (2 * n + 1)) / den
    v = (6 * sc2 - nb * (n + 1) * (2 * n + 1)) / den
    rho = 2 * (n * n - 4) / ((2 * n + 1) * (8 * n + 11)) - 1
    cref = (u * u + v * v - 2 * rho * u * v) / (2 * (1 - rho * rho))
    assert abs(r["u_q6"] - u) < 1e-5
    assert abs(r["v_q6"] - v) < 1e-5
    assert abs(r["c_q6"] - cref) < 1e-5


def test_cucconi_detects_scale_shift_mw_misses(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        cucconi_test,
        mann_whitney_u,
    )

    # same center, very different spread: MW AUC ~ 0.5, Cucconi large
    xs = [float(v) for v in range(45, 56)] * 4  # tight around 50
    ys = [float(v) for v in range(0, 101, 5)] * 2  # wide around 50
    rows = [("a", v) for v in xs] + [("b", v) for v in ys]
    df = spark.createDataFrame(rows, "g string, v double")
    mw = mann_whitney_u(df, "v", "g", "a", "b", quantize=0).collect()[0]
    cu = cucconi_test(df, "v", "g", "a", "b", quantize=0).collect()[0]
    assert abs(mw["auc_a"] - 0.5) < 0.05
    assert cu["c_q6"] > 3.0


def test_competing_risks_python_twin_and_bounds(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        competing_risks_cif,
    )
    import math

    # (duration, cause): cause 0 censored, 1, 2 competing
    obs = [
        (1, 1), (1, 2), (2, 0), (3, 1), (3, 1), (4, 2), (5, 0),
        (6, 1), (7, 2), (8, 0),
    ]
    df = spark.createDataFrame(obs, "dur int, cause int")
    rows = competing_risks_cif(df, "dur", "cause").collect()
    got = {(r["cause"], r["t"]): r for r in rows}

    # python twin with the same 1e-9-quantized-log survival
    times = sorted({t for t, _ in obs})
    n = len(obs)
    at_risk = {}
    removed = 0
    for t in times:
        at_risk[t] = n - removed
        removed += sum(1 for d, _ in obs if d == t)
    cum = 0
    cif = {1: 0.0, 2: 0.0}
    for t in times:
        d_all = sum(1 for d, c in obs if d == t and c > 0)
        s_before = math.exp(cum / 1e9)
        for k in (1, 2):
            dk = sum(1 for d, c in obs if d == t and c == k)
            if dk:
                cif[k] += s_before * dk / at_risk[t]
                assert (
                    abs(got[(k, t)]["cif_q6"] - cif[k]) < 2e-6
                ), (k, t)
        if d_all:
            cum += math.floor(
                math.log(1 - d_all / at_risk[t]) * 1e9
            )
    # CIFs are monotone and their total stays below 1
    assert cif[1] + cif[2] < 1.0
    last1 = max(r["cif_q6"] for r in rows if r["cause"] == 1)
    last2 = max(r["cif_q6"] for r in rows if r["cause"] == 2)
    assert abs(last1 - cif[1]) < 2e-6 and abs(last2 - cif[2]) < 2e-6


def test_competing_risks_single_cause_matches_1_minus_km(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        competing_risks_cif,
        kaplan_meier,
    )

    # only one cause: CIF_1(t) == 1 - S_km(t)
    obs = [(1, 1), (2, 1), (2, 0), (4, 1), (5, 0), (6, 1)]
    df = spark.createDataFrame(obs, "dur int, cause int")
    cif = {
        r["t"]: r["cif_q6"]
        for r in competing_risks_cif(df, "dur", "cause").collect()
    }
    km = {
        r["duration"]: r["survival_q"]
        for r in kaplan_meier(df, "dur", "cause").collect()
    }
    for t, c in cif.items():
        assert abs(c - (1.0 - km[t])) < 5e-6, t


def test_wilcoxon_signed_rank_python_twin(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        wilcoxon_signed_rank,
    )
    import math

    vals = [3.0, 5.0, 5.0, 7.0, 2.0, 9.0, 4.0, 4.0, 6.0, 8.0, 1.0]
    m0 = 4
    rows = [("g", v) for v in vals]
    df = spark.createDataFrame(rows, "g string, v double")
    r = wilcoxon_signed_rank(
        df, "v", m0_q=m0, group_cols=("g",), quantize=0
    ).collect()[0]
    diffs = [v - m0 for v in vals if v != m0]
    absd = sorted(abs(d) for d in diffs)
    rank = {
        a: (
            sum(1 for x in absd if x < a)
            + (sum(1 for x in absd if x <= a) + 1)
        ) / 2.0
        + sum(1 for x in absd if x < a) * 0  # midrank
        for a in set(absd)
    }
    # midrank of value a = (#less) + (#eq + 1)/2
    rank = {
        a: sum(1 for x in absd if x < a)
        + (sum(1 for x in absd if x == a) + 1) / 2.0
        for a in set(absd)
    }
    wplus = sum(rank[abs(d)] for d in diffs if d > 0)
    nn = len(diffs)
    ties = {}
    for a in absd:
        ties[a] = ties.get(a, 0) + 1
    var0 = nn * (nn + 1) * (2 * nn + 1) / 24.0 - sum(
        c**3 - c for c in ties.values()
    ) / 48.0
    z = (wplus - nn * (nn + 1) / 4.0) / math.sqrt(var0)
    assert r["n_nonzero"] == nn
    assert abs(r["w_plus_q1"] - wplus) < 1e-9
    assert abs(r["z_q6"] - z) < 2e-6


def test_wilcoxon_symmetric_about_m0_near_zero(spark):
    from png_from_pdf_extracter_spark.functions.stats import (
        wilcoxon_signed_rank,
    )

    rows = [("g", float(50 + d)) for d in range(-20, 21) if d != 0]
    df = spark.createDataFrame(rows, "g string, v double")
    r = wilcoxon_signed_rank(
        df, "v", m0_q=50, group_cols=("g",), quantize=0
    ).collect()[0]
    assert abs(r["z_q6"]) < 1e-6  # perfectly symmetric
