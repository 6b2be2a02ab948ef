"""Statistical estimators: the exact weighted quantile and rolling
median (functions/stats.py), LM keyness (functions/lm.py) and
McNemar's test (functions/evalmetrics.py) — closed-form pins and
degenerate-input cases."""

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


# ---- McNemar (functions/evalmetrics.py) ----

from png_from_pdf_extracter_spark.functions.evalmetrics import (  # noqa: E402
    mcnemar_test,
)


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
