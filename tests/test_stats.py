"""Statistical estimators (functions/stats.py) — closed-form pins,
Python twins and degenerate-input cases."""

# ---- weighted_quantile ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    weighted_quantile,
)


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


# ---- rank statistics (spearman_corr / autocorr_lag1) ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    autocorr_lag1,
    spearman_corr,
)


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


# ---- gini_concentration (scoped) ----


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


# ---- difference-in-differences ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    did_estimate,
)


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


# ---- Cochran's Q ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    cochran_q,
)


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


# ---- Durbin-Watson ----

from png_from_pdf_extracter_spark.functions.stats import (  # noqa: E402
    durbin_watson,
)


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
