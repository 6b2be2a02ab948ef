"""Classifier-evaluation metrics (functions/evalmetrics.py): ROC-AUC by
the Mann-Whitney rank identity against closed-form cases — perfect,
inverted, constant (all-ties -> exactly 0.5 via average ranks), and a
hand-computed mixed ranking — plus confusion-count arithmetic."""

from pyspark.sql import Row

from png_from_pdf_extracter_spark.functions.evalmetrics import (
    confusion_counts,
    roc_auc,
)


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(score=float(s), y=int(y)) for s, y in rows]
    )


def _auc(spark, rows):
    out = roc_auc(_df(spark, rows), "score", "y").collect()
    assert len(out) == 1
    return out[0]


def test_auc_perfect_separation(spark):
    r = _auc(spark, [(0.1, 0), (0.2, 0), (0.8, 1), (0.9, 1)])
    assert r["auc"] == 1.0 and r["n_pos"] == 2 and r["n_neg"] == 2


def test_auc_inverted_classifier_is_zero(spark):
    r = _auc(spark, [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)])
    assert r["auc"] == 0.0


def test_auc_constant_score_is_half(spark):
    # all ties: average ranks make AUC exactly 0.5, not 0 or 1
    r = _auc(spark, [(0.5, 0), (0.5, 1), (0.5, 0), (0.5, 1), (0.5, 1)])
    assert r["auc"] == 0.5


def test_auc_hand_computed_with_tie(spark):
    # scores: 0.1(y0) 0.4(y1) 0.4(y0) 0.7(y1) -> ranks 1, 2.5, 2.5, 4
    # R_pos = 2.5 + 4 = 6.5 ; AUC = (6.5 - 3) / (2*2) = 0.875
    r = _auc(spark, [(0.1, 0), (0.4, 1), (0.4, 0), (0.7, 1)])
    assert r["auc_num2"] == 2 * 13 // 2 - 2 * 3  # 2*R_pos - n_pos(n_pos+1)
    assert r["auc"] == 0.875


def test_auc_degenerate_group_is_null(spark):
    r = _auc(spark, [(0.3, 1), (0.9, 1)])  # no negatives
    assert r["auc"] is None and r["n_neg"] == 0


def test_auc_grouped_independent(spark):
    df = spark.createDataFrame(
        [
            Row(g="a", score=0.1, y=0),
            Row(g="a", score=0.9, y=1),
            Row(g="b", score=0.9, y=0),
            Row(g="b", score=0.1, y=1),
        ]
    )
    out = {
        r["g"]: r["auc"]
        for r in roc_auc(df, "score", "y", group_cols=("g",)).collect()
    }
    assert out == {"a": 1.0, "b": 0.0}


def test_confusion_counts(spark):
    df = spark.createDataFrame(
        [
            Row(p=True, y=1),   # tp
            Row(p=True, y=0),   # fp
            Row(p=False, y=1),  # fn
            Row(p=False, y=0),  # tn
            Row(p=True, y=1),   # tp
        ]
    )
    r = confusion_counts(df, "p", "y").collect()[0]
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 1)


# --------------------------------------------------- readability (text.py)
# colocated with the classifier metrics: both are corpus quality gates.

def _readability_row(spark, s):
    from png_from_pdf_extracter_spark.functions import text
    from pyspark.sql import functions as F

    return (
        spark.createDataFrame([Row(text=s)])
        .select(
            F.size(
                F.filter(text.words("text"), lambda t: F.length(t) > 0)
            ).alias("w"),
            text.sentence_count("text").alias("s"),
            text.syllable_count("text").alias("y"),
            text.flesch_reading_ease("text").alias("fre"),
        )
        .collect()[0]
    )


def test_flesch_hand_computed(spark):
    r = _readability_row(spark, "The cat sat. It ran!")
    assert (r["w"], r["s"], r["y"]) == (5, 2, 5)
    import math

    expect = math.floor(
        (206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)) * 10000
    ) / 10000
    assert r["fre"] == expect


def test_flesch_no_punctuation_floors_sentences_at_one(spark):
    r = _readability_row(spark, "hello world")
    assert r["s"] == 1 and r["w"] == 2


def test_flesch_empty_is_null_not_zero(spark):
    r = _readability_row(spark, "")
    assert r["w"] == 0 and r["fre"] is None


def test_flesch_monosyllabic_easier_than_polysyllabic(spark):
    easy = _readability_row(spark, "The dog ran. The cat sat.")
    hard = _readability_row(
        spark, "Institutional bureaucratization necessitates reorganization."
    )
    assert easy["fre"] > hard["fre"]


# ------------------------------------------------------------- NDCG@k

def _ndcg_rows(spark, rows, k=10):
    from png_from_pdf_extracter_spark.functions.evalmetrics import ndcg_at_k

    df = spark.createDataFrame(rows, "query_id long, rank int, rel int")
    return {r["query_id"]: r for r in ndcg_at_k(df, k=k).collect()}


def test_ndcg_perfect_ranking_is_one(spark):
    out = _ndcg_rows(spark, [(1, 1, 1), (1, 2, 1), (1, 3, 0)])
    assert out[1]["ndcg"] == 1.0


def test_ndcg_hand_computed_swap(spark):
    # rel at ranks 2,3 of 3: DCG = 1/log2(3) + 1/log2(4);  IDCG = 1 + 1/log2(3)
    import math

    out = _ndcg_rows(spark, [(1, 1, 0), (1, 2, 1), (1, 3, 1)])
    dcg = 1 / math.log2(3) + 1 / math.log2(4)
    idcg = 1.0 + 1 / math.log2(3)
    assert out[1]["dcg"] == math.floor(dcg * 1e6) / 1e6
    assert out[1]["ndcg"] == math.floor(dcg / idcg * 1e6) / 1e6


def test_ndcg_no_relevant_is_null(spark):
    out = _ndcg_rows(spark, [(1, 1, 0), (1, 2, 0)])
    assert out[1]["ndcg"] is None and out[1]["idcg"] == 0.0


def test_ndcg_k_cutoff_and_graded(spark):
    # graded rel beyond k must not count; rel=2 gain is 3
    import math

    out = _ndcg_rows(spark, [(1, 1, 2), (1, 2, 0), (1, 3, 1)], k=2)
    assert out[1]["n_ranked"] == 2
    assert out[1]["dcg"] == math.floor(3.0 * 1e6) / 1e6


def test_ndcg_max_rel_guard(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception):
        _ndcg_rows(spark, [(1, 1, 40)])  # 2^40 — wrong column


# ----------------------------------------------------- calibration bins

def test_calibration_bins_hand_computed(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        calibration_bins,
    )

    rows = [(-0.95, 0), (-0.95, 0), (0.05, 1), (0.05, 0), (0.95, 1)]
    df = spark.createDataFrame(rows, "score double, y int")
    out = {r["bin"]: r for r in calibration_bins(df, "score", "y").collect()}
    assert out[0]["n"] == 2 and out[0]["pos_rate"] == 0.0
    assert out[5]["n"] == 2 and out[5]["pos_rate"] == 0.5
    assert out[9]["n_pos"] == 1
    # mean_score is rebuilt from the BIGINT 4dp sum, exactly
    assert out[5]["mean_score"] == (500 + 500) / (2 * 10000)


def test_calibration_bins_clamp_out_of_range(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        calibration_bins,
    )

    df = spark.createDataFrame(
        [(-5.0, 0), (5.0, 1)], "score double, y int"
    )
    out = {r["bin"] for r in calibration_bins(df, "score", "y").collect()}
    assert out == {0, 9}


# ---- logistic-regression training (IRLS) ----

import numpy as np

from png_from_pdf_extracter_spark.functions.evalmetrics import (
    logreg_score,
    logreg_train,
)


def _synth(seed=7, n=400):
    """Deterministic 2-feature synthetic with known generating weights."""
    rng = np.random.RandomState(seed)
    X = rng.uniform(-2, 2, size=(n, 2))
    z = -0.5 + 1.5 * X[:, 0] - 2.0 * X[:, 1]
    y = (rng.uniform(size=n) < 1 / (1 + np.exp(-z))).astype(int)
    return X, y


def _numpy_irls(X, y, iters, ridge=1e-6):
    """Reference IRLS on the same data — the exact algorithm
    logreg_train distributes, run locally."""
    n, d = X.shape
    A = np.hstack([np.ones((n, 1)), X])
    w = np.zeros(d + 1)
    for _ in range(iters):
        p = 1 / (1 + np.exp(-A @ w))
        g = A.T @ (y - p)
        H = (A * (p * (1 - p))[:, None]).T @ A + ridge * np.eye(d + 1)
        w = w + np.linalg.solve(H, g)
    return w


def test_logreg_matches_numpy_irls_twin(spark):
    X, y = _synth()
    df = spark.createDataFrame(
        [(float(a), float(b), int(t)) for (a, b), t in zip(X, y)],
        "x1 double, x2 double, y int",
    ).repartition(8)  # prove partitioning does not change the solution
    w, stats = logreg_train(df, ("x1", "x2"), "y", iters=6)
    ref = _numpy_irls(X, y, iters=6)
    assert np.allclose(w, ref, atol=1e-6), (w, ref)
    assert stats["n"] == 400


def test_logreg_recovers_signal_direction_and_separates(spark):
    X, y = _synth(seed=11, n=600)
    df = spark.createDataFrame(
        [(float(a), float(b), int(t)) for (a, b), t in zip(X, y)],
        "x1 double, x2 double, y int",
    )
    w, stats = logreg_train(df, ("x1", "x2"), "y", iters=8)
    # signs of the generating weights (+1.5, -2.0) recovered
    assert w[1] > 0 and w[2] < 0
    # trained model beats the null model's loss (ln 2) decisively
    assert stats["log_loss"] < 0.5
    # scoring: accuracy well above chance on the training sample
    scored = df.select(
        "y", (logreg_score(df, ("x1", "x2"), w) > 0.5).cast("int").alias("p")
    )
    acc = scored.filter("y = p").count() / 600
    assert acc > 0.8, acc


def test_logreg_separable_data_stays_finite(spark):
    # perfectly separable: without ridge the MLE diverges; ridge keeps
    # the Newton system solvable and the weights finite
    rows = [(float(i), int(i > 0)) for i in range(-50, 50) if i != 0]
    df = spark.createDataFrame(rows, "x1 double, y int")
    w, stats = logreg_train(df, ("x1",), "y", iters=10, ridge=1e-3)
    assert all(np.isfinite(w)) and np.isfinite(stats["log_loss"])
    assert w[1] > 0


def test_logreg_persists_loop_input_once(spark, monkeypatch):
    # the IRLS loop re-reads its projected feature frame iters+1 times;
    # the contract (r3 verdict #2) is that it is CACHED once, not
    # recomputed per pass — assert persist is actually called and that
    # the matching unpersist releases it before return
    calls = {"persist": 0, "unpersist": 0}
    X, y = _synth(seed=3, n=120)
    df = spark.createDataFrame(
        [(float(a), float(b), int(t)) for (a, b), t in zip(X, y)],
        "x1 double, x2 double, y int",
    )
    cls = type(df)  # the concrete (classic) DataFrame class
    orig_p, orig_u = cls.persist, cls.unpersist

    def counting_persist(self, *a, **k):
        calls["persist"] += 1
        return orig_p(self, *a, **k)

    def counting_unpersist(self, *a, **k):
        calls["unpersist"] += 1
        return orig_u(self, *a, **k)

    monkeypatch.setattr(cls, "persist", counting_persist)
    monkeypatch.setattr(cls, "unpersist", counting_unpersist)
    w, stats = logreg_train(df, ("x1", "x2"), "y", iters=3)
    assert calls["persist"] == 1, calls
    assert calls["unpersist"] == 1, calls
    assert all(np.isfinite(w))


def test_logreg_hash_sample_cap_is_deterministic(spark):
    # sample_frac trains on the reproducible hash_sample slice: same
    # weights on rerun, strictly fewer rows than the full set, and the
    # slice solution equals training directly on the pre-filtered frame
    X, y = _synth(seed=19, n=500)
    rows = [
        (i, float(a), float(b), int(t))
        for i, ((a, b), t) in enumerate(zip(X, y))
    ]
    df = spark.createDataFrame(rows, "rid int, x1 double, x2 double, y int")
    w1, s1 = logreg_train(
        df, ("x1", "x2"), "y", iters=5,
        sample_frac=(1, 2), sample_id_col="rid",
    )
    w2, s2 = logreg_train(
        df, ("x1", "x2"), "y", iters=5,
        sample_frac=(1, 2), sample_id_col="rid",
    )
    assert w1 == w2 and s1["n"] == s2["n"]
    assert 0 < s1["n"] < 500
    from png_from_pdf_extracter_spark.functions.curate import hash_sample

    pre = df.filter(hash_sample(df, "rid", 1, 2))
    w3, s3 = logreg_train(pre, ("x1", "x2"), "y", iters=5)
    assert s3["n"] == s1["n"]
    assert np.allclose(w1, w3, atol=1e-9)


def test_logreg_sample_frac_requires_id_col(spark):
    df = spark.createDataFrame([(1.0, 1)], "x1 double, y int")
    import pytest

    with pytest.raises(ValueError):
        logreg_train(df, ("x1",), "y", sample_frac=(1, 2))


# ---- cohens_kappa ----


def test_cohens_kappa_textbook_2x2(spark):
    # confusion [[20,5],[10,15]]: N=50 agree=35, margins a=(25,25)
    # b=(30,20), chance_x=1250 -> kappa=(1750-1250)/1250 = 0.4 exactly
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        cohens_kappa,
    )

    rows = (
        [("x", "x")] * 20 + [("x", "y")] * 5
        + [("y", "x")] * 10 + [("y", "y")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["agree"], r["chance_x"]) == (50, 35, 1250)
    assert r["kappa_q6"] == 0.4


def test_cohens_kappa_perfect_and_degenerate(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        cohens_kappa,
    )

    perfect = spark.createDataFrame(
        [("x", "x")] * 3 + [("y", "y")] * 2, "a string, b string"
    )
    r = cohens_kappa(perfect, "a", "b").collect()[0]
    assert r["kappa_q6"] == 1.0
    const = spark.createDataFrame([("x", "x")] * 4, "a string, b string")
    r2 = cohens_kappa(const, "a", "b").collect()[0]
    assert r2["kappa_q6"] is None  # both raters constant: vacuous


def test_cohens_kappa_chance_level_is_zero(spark):
    # independent raters at matched 50/50 margins -> kappa ~ 0; build
    # the exact chance table: agree = N/2 exactly
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        cohens_kappa,
    )

    rows = (
        [("x", "x")] * 5 + [("x", "y")] * 5
        + [("y", "x")] * 5 + [("y", "y")] * 5
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert r["kappa_q6"] == 0.0


# ---- MCC / Brier decomposition / retrieval metrics ----

from png_from_pdf_extracter_spark.functions.evalmetrics import (  # noqa: E402
    brier_decomposition,
    mcc,
    retrieval_metrics,
)


def test_mcc_perfect_and_inverted(spark):
    rows = [(True, 1)] * 3 + [(False, 0)] * 5
    df = spark.createDataFrame(rows, "pred boolean, y long")
    r = mcc(df, "pred", "y").collect()[0]
    assert r["mcc_q6"] == 1.0
    inv = spark.createDataFrame(
        [(False, 1)] * 3 + [(True, 0)] * 5, "pred boolean, y long"
    )
    assert mcc(inv, "pred", "y").collect()[0]["mcc_q6"] == -1.0


def test_mcc_matches_sklearn_formula(spark):
    import math

    tp, fp, fn, tn = 6, 2, 3, 9
    rows = (
        [(True, 1)] * tp + [(True, 0)] * fp
        + [(False, 1)] * fn + [(False, 0)] * tn
    )
    df = spark.createDataFrame(rows, "pred boolean, y long")
    r = mcc(df, "pred", "y").collect()[0]
    ref = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert abs(r["mcc_q6"] - ref) < 2e-6
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)


def test_mcc_degenerate_margin_null(spark):
    # predictor always fires: tn + fn margin ... fp+tn=0 case
    df = spark.createDataFrame(
        [(True, 1)] * 2 + [(True, 0)] * 2, "pred boolean, y long"
    )
    assert mcc(df, "pred", "y").collect()[0]["mcc_q6"] is None


def test_brier_decomposition_identity(spark):
    # Brier = REL - RES + UNC must hold exactly for bin-constant
    # forecasts; verify on a small hand table
    rows = (
        [(0.2, 0)] * 4 + [(0.2, 1)] * 1   # bin .2: pos_rate .2 -> calibrated
        + [(0.8, 1)] * 3 + [(0.8, 0)] * 2  # bin .8: pos_rate .6
    )
    df = spark.createDataFrame(rows, "score double, y long")
    out = brier_decomposition(df, "score", "y").collect()
    n = sum(r["n"] for r in out)
    brier = sum(r["sse8"] for r in out) / (n * 1e8)
    rel = sum(r["rel_q9"] for r in out)
    res = sum(r["res_q9"] for r in out)
    base = sum(r["n_pos"] for r in out) / n
    unc = base * (1 - base)
    assert abs(brier - (rel - res + unc)) < 1e-6
    # per-bin exact integers
    b02 = [r for r in out if r["s4"] == 2000][0]
    assert b02["n"] == 5 and b02["n_pos"] == 1


def test_retrieval_metrics_closed_form(spark):
    # query a: rel at ranks 2 and 7 of 10; corpus truth 4
    rows = [("a", r, 1 if r in (2, 7) else 0, 4) for r in range(1, 11)]
    # query b: nothing relevant
    rows += [("b", r, 0, 4) for r in range(1, 11)]
    df = spark.createDataFrame(
        rows, "query_id string, rank long, rel int, tot long"
    )
    out = {
        r["query_id"]: r
        for r in retrieval_metrics(
            df, ("query_id",), "rank", "rel", k=5, total_rel_col="tot"
        ).collect()
    }
    a = out["a"]
    assert a["hits_k"] == 1 and a["prec_k_q6"] == 0.2
    assert a["recall_k_q6"] == 0.25 and a["rr_q6"] == 0.5
    b = out["b"]
    assert b["hits_k"] == 0 and b["rr_q6"] == 0.0 and b["prec_k_q6"] == 0.0


def test_retrieval_metrics_inlist_denominator(spark):
    rows = [("q", 1, 1), ("q", 2, 0), ("q", 3, 1)]
    df = spark.createDataFrame(rows, "query_id string, rank long, rel int")
    r = retrieval_metrics(df, ("query_id",), "rank", "rel", k=2).collect()[0]
    assert r["total_rel"] == 2 and r["recall_k_q6"] == 0.5
    assert r["rr_q6"] == 1.0


# ---- Fleiss' kappa / Krippendorff's alpha ----

from png_from_pdf_extracter_spark.functions.evalmetrics import (  # noqa: E402
    fleiss_kappa,
    krippendorff_alpha_nominal,
)


def _long(spark, grid):
    rows = [
        (i, f"r{j}", lab)
        for i, labs in enumerate(grid)
        for j, lab in enumerate(labs)
    ]
    return spark.createDataFrame(rows, "item long, rater string, lab int")


def _fleiss_ref(grid):
    import math

    n = len(grid)
    k = len(grid[0])
    labels = sorted({v for row in grid for v in row})
    agree = sum(
        sum(row.count(v) * (row.count(v) - 1) for v in labels)
        for row in grid
    )
    t = {v: sum(row.count(v) for row in grid) for v in labels}
    T = n * k
    p_bar = agree / (n * k * (k - 1))
    p_e = sum(x * x for x in t.values()) / (T * T)
    return math.floor((p_bar - p_e) / (1 - p_e) * 1e6) / 1e6


def _kripp_ref(grid):
    import math

    n = len(grid)
    k = len(grid[0])
    labels = sorted({v for row in grid for v in row})
    disag = sum(
        k * (k - 1)
        - sum(row.count(v) * (row.count(v) - 1) for v in labels)
        for row in grid
    )
    t = {v: sum(row.count(v) for row in grid) for v in labels}
    T = n * k
    d_o = disag / (n * k * (k - 1))
    d_e = (T * T - sum(x * x for x in t.values())) / (T * (T - 1))
    return math.floor((1 - d_o / d_e) * 1e6) / 1e6


def test_fleiss_kappa_reference_parity(spark):
    grid = [
        [0, 0, 1], [1, 1, 1], [2, 2, 0], [0, 1, 2],
        [1, 1, 0], [2, 2, 2], [0, 0, 0], [1, 2, 1],
    ]
    r = fleiss_kappa(_long(spark, grid), "item", "rater", "lab").collect()[0]
    assert r["kappa_q6"] == _fleiss_ref(grid)
    assert r["n_items"] == 8 and r["k"] == 3


def test_fleiss_kappa_perfect_agreement(spark):
    grid = [[0, 0, 0], [1, 1, 1], [2, 2, 2]]
    r = fleiss_kappa(_long(spark, grid), "item", "rater", "lab").collect()[0]
    assert r["kappa_q6"] == 1.0


def test_fleiss_incomplete_design_raises(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, "r1", 0), (0, "r2", 1), (1, "r1", 0)],
        "item long, rater string, lab int",
    )
    with pytest.raises(ValueError, match="complete design"):
        fleiss_kappa(df, "item", "rater", "lab")


def test_krippendorff_reference_parity_and_perfect(spark):
    grid = [
        [0, 0, 1], [1, 1, 1], [2, 2, 0], [0, 1, 2],
        [1, 1, 0], [2, 2, 2], [0, 0, 0], [1, 2, 1],
    ]
    r = krippendorff_alpha_nominal(
        _long(spark, grid), "item", "rater", "lab"
    ).collect()[0]
    assert r["alpha_q6"] == _kripp_ref(grid)
    perfect = [[0, 0], [1, 1], [0, 0]]
    r2 = krippendorff_alpha_nominal(
        _long(spark, perfect), "item", "rater", "lab"
    ).collect()[0]
    assert r2["alpha_q6"] == 1.0


def test_krippendorff_single_label_null(spark):
    grid = [[5, 5], [5, 5]]
    r = krippendorff_alpha_nominal(
        _long(spark, grid), "item", "rater", "lab"
    ).collect()[0]
    assert r["alpha_q6"] is None


# ---- conformal threshold / risk-coverage ----

from png_from_pdf_extracter_spark.functions.evalmetrics import (  # noqa: E402
    conformal_threshold,
    risk_coverage_curve,
)


def test_conformal_rank_and_value(spark):
    # n=9, alpha=10%: r = ceil(10 * 0.9) = 9 -> 9th smallest of 1..9
    df = spark.createDataFrame([(float(i),) for i in range(1, 10)], "s double")
    r = conformal_threshold(df, "s", alpha_permille=100).collect()[0]
    assert r["rank_target"] == 9 and r["qhat"] == 9.0 and r["covered"]


def test_conformal_needs_more_data(spark):
    # n=3, alpha=10%: r = ceil(4 * 0.9) = 4 > n -> null qhat
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "s double")
    r = conformal_threshold(df, "s", alpha_permille=100).collect()[0]
    assert r["qhat_q"] is None and r["covered"] is False


def test_conformal_grouped_and_ties(spark):
    rows = [("a", float(v)) for v in [1, 1, 1, 2, 2, 5, 5, 5, 9]] + [
        ("b", 3.0)
    ] * 19
    df = spark.createDataFrame(rows, "g string, s double")
    out = {
        r["g"]: r
        for r in conformal_threshold(
            df, "s", ("g",), alpha_permille=100
        ).collect()
    }
    assert out["a"]["rank_target"] == 9 and out["a"]["qhat"] == 9.0
    # n=19: r = ceil(20*0.9) = 18 -> value 3.0
    assert out["b"]["rank_target"] == 18 and out["b"]["qhat"] == 3.0


def test_conformal_param_validation(spark):
    import pytest

    df = spark.createDataFrame([(1.0,)], "s double")
    with pytest.raises(ValueError):
        conformal_threshold(df, "s", alpha_permille=0)


def test_risk_coverage_closed_form(spark):
    # confidences .9/.5/.1; errors concentrated at low confidence
    rows = (
        [(0.9, 0)] * 4
        + [(0.5, 0)] * 2 + [(0.5, 1)] * 2
        + [(0.1, 1)] * 2
    )
    df = spark.createDataFrame(rows, "conf double, err long")
    out = {r["conf_q"]: r for r in risk_coverage_curve(df, "conf", "err").collect()}
    assert out[9000]["coverage_q6"] == 0.4 and out[9000]["risk_q6"] == 0.0
    assert out[5000]["coverage_q6"] == 0.8 and out[5000]["risk_q6"] == 0.25
    assert out[1000]["coverage_q6"] == 1.0 and out[1000]["risk_q6"] == 0.4


def test_risk_coverage_monotone_coverage(spark):
    rows = [(float(i % 10) / 10.0, i % 3 == 0) for i in range(100)]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "conf double, err boolean")
    curve = risk_coverage_curve(df, "conf", "err").orderBy(
        F.col("conf_q").desc()
    ).collect()
    covs = [r["coverage_q6"] for r in curve]
    assert covs == sorted(covs) and covs[-1] == 1.0


def test_off_policy_ips_python_twin(spark):
    import math
    import random

    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        off_policy_value,
    )

    rng = random.Random(29)
    rows = []
    for i in range(300):
        a = rng.choice(["x", "y", "z"])
        t = "x" if i % 3 == 0 else "y"
        k = rng.randrange(1, 10)
        r = round(rng.uniform(0, 10), 2)
        rows.append((a, t, k, r))
    df = spark.createDataFrame(
        rows, "action string, target string, k int, reward double"
    )
    out = off_policy_value(df, "action", "target", "k", "reward").collect()[0]
    n = len(rows)
    w = [(10.0 / k) if a == t else 0.0 for a, t, k, _ in rows]
    rq = [int(round(r * 100)) for _, _, _, r in rows]
    s = sum(wi * ri for wi, ri in zip(w, rq))
    ips = s / n / 100.0
    snips = s / sum(w) / 100.0
    ess = sum(w) ** 2 / sum(wi * wi for wi in w)
    assert out["n"] == n
    assert abs(out["ips_q6"] - ips) < 1e-5
    assert abs(out["snips_q6"] - snips) < 1e-5
    assert abs(out["ess_q6"] - ess) < 1e-4
    # ESS is bounded by the match count
    assert out["ess_q6"] <= out["n_match"]


def test_off_policy_logged_policy_recovers_mean(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        off_policy_value,
    )

    # target == logged action everywhere with p=1.0 is ill-typed for the
    # tenths grid; use p=0.5 (k=5) uniform: IPS = 2 * mean(reward) *
    # match_rate; with all matches SNIPS == plain mean exactly
    rows = [("a", "a", 5, 4.0), ("a", "a", 5, 6.0), ("a", "a", 5, 8.0)]
    df = spark.createDataFrame(
        rows, "action string, target string, k int, reward double"
    )
    out = off_policy_value(df, "action", "target", "k", "reward").collect()[0]
    assert out["snips_q6"] == 6.0
    assert out["ips_q6"] == 12.0  # 2x mean: every weight is 1/0.5
    assert out["ess_q6"] == 3.0


def test_off_policy_no_match_nulls(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        off_policy_value,
    )

    df = spark.createDataFrame(
        [("a", "b", 5, 4.0)], "action string, target string, k int, reward double"
    )
    out = off_policy_value(df, "action", "target", "k", "reward").collect()[0]
    assert out["ips_q6"] == 0.0 and out["snips_q6"] is None


def test_partition_agreement_identical_and_permuted(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        partition_agreement,
    )

    rows = [("x", "p")] * 5 + [("y", "q")] * 4 + [("z", "r")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    r = partition_agreement(df, "a", "b").collect()[0]
    # b is a pure relabeling of a: perfect agreement on every metric
    assert r["ari_q6"] == 1.0 and r["nmi_q6"] == 1.0
    assert r["homogeneity_q6"] == 1.0 and r["completeness_q6"] == 1.0
    assert r["v_q6"] == 1.0


def test_partition_agreement_python_twin_sklearn_formulae(spark):
    import math
    import random
    from collections import Counter

    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        partition_agreement,
    )

    rng = random.Random(61)
    rows = [
        (rng.choice("abc"), rng.choice("pq")) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "a string, b string")
    r = partition_agreement(df, "a", "b").collect()[0]
    n = len(rows)
    cab = Counter(rows)
    ca = Counter(x for x, _ in rows)
    cb = Counter(y for _, y in rows)
    c2 = lambda x: x * (x - 1) / 2  # noqa: E731
    idx = sum(c2(c) for c in cab.values())
    sa = sum(c2(c) for c in ca.values())
    sb = sum(c2(c) for c in cb.values())
    exp = sa * sb / c2(n)
    ari = (idx - exp) / ((sa + sb) / 2 - exp)
    hab = sum(c / n * math.log(n / c) for c in cab.values())
    ha = sum(c / n * math.log(n / c) for c in ca.values())
    hb = sum(c / n * math.log(n / c) for c in cb.values())
    mi = ha + hb - hab
    nmi = mi / math.sqrt(ha * hb)
    assert abs(r["ari_q6"] - ari) < 1e-5
    assert abs(r["nmi_q6"] - nmi) < 1e-5
    # homogeneity = 1 - H(A|B)/H(A) = MI/H(A)
    assert abs(r["homogeneity_q6"] - mi / ha) < 1e-5
    assert abs(r["completeness_q6"] - mi / hb) < 1e-5
    # independent labelings -> everything near zero
    assert abs(r["ari_q6"]) < 0.05 and r["nmi_q6"] < 0.05


def test_partition_agreement_degenerate_single_label(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        partition_agreement,
    )

    df = spark.createDataFrame(
        [("only", "p"), ("only", "q")], "a string, b string"
    )
    r = partition_agreement(df, "a", "b").collect()[0]
    # H(A) = 0: homogeneity/nmi undefined
    assert r["nmi_q6"] is None and r["homogeneity_q6"] is None


def test_average_precision_hand_computed(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        average_precision,
    )

    # ranked by score desc: labels 1,0,1,1,0 -> AP = (1/1 + 2/3 + 3/4)/3
    rows = [
        (1, 0.9, 1), (2, 0.8, 0), (3, 0.7, 1), (4, 0.6, 1), (5, 0.5, 0)
    ]
    df = spark.createDataFrame(rows, "id long, score double, y int")
    r = average_precision(df, "score", "y", "id").collect()[0]
    exp = (1.0 + 2 / 3 + 3 / 4) / 3
    import math

    assert r["n_pos"] == 3 and r["n_neg"] == 2
    assert r["ap_q6"] == math.floor(exp * 1e6) / 1e6
    # perfect ranking -> AP = 1; no positives -> null
    perfect = spark.createDataFrame(
        [(1, 0.9, 1), (2, 0.8, 1), (3, 0.1, 0)], "id long, score double, y int"
    )
    assert average_precision(perfect, "score", "y", "id").collect()[0][
        "ap_q6"
    ] == 1.0
    nopos = spark.createDataFrame(
        [(1, 0.9, 0)], "id long, score double, y int"
    )
    assert average_precision(nopos, "score", "y", "id").collect()[0][
        "ap_q6"
    ] is None


def test_average_precision_tie_break_deterministic(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        average_precision,
    )

    # two rows tied on score: id asc puts the NEGATIVE (lower id)
    # first -> AP = (1/2 + ...)/1; flipping ids flips the AP
    a = spark.createDataFrame(
        [(1, 0.5, 0), (2, 0.5, 1)], "id long, score double, y int"
    )
    b = spark.createDataFrame(
        [(2, 0.5, 0), (1, 0.5, 1)], "id long, score double, y int"
    )
    ra = average_precision(a, "score", "y", "id").collect()[0]["ap_q6"]
    rb = average_precision(b, "score", "y", "id").collect()[0]["ap_q6"]
    assert ra == 0.5 and rb == 1.0


def test_best_f1_sweep_hand_computed(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        best_f1_threshold,
    )

    # thresholds: .9 -> tp1 fp0 fn2 f1=.5 ; .7 -> tp2 fp1 fn1 f1=2/3 ;
    # .5 -> tp3 fp1 fn0 f1=.857 ; .3 -> tp3 fp2 fn0 f1=.75
    rows = [(0.9, 1), (0.7, 1), (0.7, 0), (0.5, 1), (0.3, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    r = best_f1_threshold(df, "score", "y").collect()[0]
    assert r["threshold"] == 0.5
    assert (r["tp"], r["fp"], r["fn"]) == (3, 1, 0)
    assert abs(r["f1_q6"] - 6 / 7) < 2e-6
    # tie on F1 -> highest threshold wins
    t = spark.createDataFrame(
        [(0.9, 1), (0.1, 0)], "score double, y int"
    )
    rt = best_f1_threshold(t, "score", "y").collect()[0]
    assert rt["threshold"] == 0.9 and rt["f1_q6"] == 1.0


def test_ece_perfect_and_miscalibrated(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        expected_calibration_error,
    )

    # scores equal to empirical rates per bin: near-zero ECE
    rows = []
    for s, rate, n in ((0.11, 0.1, 50), (0.51, 0.5, 50), (0.91, 0.9, 50)):
        pos = int(n * rate)
        rows += [(s, 1)] * pos + [(s, 0)] * (n - pos)
    df = spark.createDataFrame(rows, "score double, y int")
    r = expected_calibration_error(
        df, "score", "y", n_bins=10, lo=0.0, hi=1.0
    ).collect()[0]
    assert r["ece_q6"] < 0.02 and r["n"] == 150
    # anti-calibrated: high score, zero positives -> big ECE
    bad = spark.createDataFrame(
        [(0.95, 0)] * 50 + [(0.05, 1)] * 50, "score double, y int"
    )
    rb = expected_calibration_error(
        bad, "score", "y", n_bins=10, lo=0.0, hi=1.0
    ).collect()[0]
    assert rb["ece_q6"] > 0.8 and rb["mce_q6"] >= rb["ece_q6"]


def test_fairness_gaps_planted_disparity(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        fairness_gaps,
    )

    # group A: pred fires on all positives; group B: on none
    rows = (
        [("A", True, 1)] * 8 + [("A", False, 0)] * 2
        + [("B", False, 1)] * 5 + [("B", False, 0)] * 5
    )
    df = spark.createDataFrame(rows, "g string, pred boolean, y int")
    out = {r["group"]: r for r in fairness_gaps(df, "pred", "y", "g").collect()}
    assert out["A"]["tpr_q6"] == 1.0 and out["B"]["tpr_q6"] == 0.0
    assert out["A"]["sel_rate_q6"] == 0.8 and out["B"]["sel_rate_q6"] == 0.0
    assert out["A"]["tpr_gap_q6"] == 1.0 == out["B"]["tpr_gap_q6"]
    assert out["A"]["sel_gap_q6"] == 0.8
    assert out["A"]["fpr_gap_q6"] == 0.0  # FPR 0 in both groups
    # degenerate: a group with no negatives has null FPR, excluded
    deg = spark.createDataFrame(
        [("C", True, 1), ("D", True, 1), ("D", False, 0)],
        "g string, pred boolean, y int",
    )
    o2 = {r["group"]: r for r in fairness_gaps(deg, "pred", "y", "g").collect()}
    assert o2["C"]["fpr_q6"] is None and o2["C"]["fpr_gap_q6"] == 0.0


def test_rank_metrics_hand_computed(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        rank_metrics_at_k,
    )

    rows = [("q1", 1, 1), ("q1", 2, 0), ("q1", 3, 1)]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel int")
    r = rank_metrics_at_k(
        df, "rel", "rank", ("query_id",), k=3, gmax=1
    ).collect()[0]
    # ERR cascade with R = (2^rel - 1)/2: 0.5/1 + 0.5*0 + 0.5*0.5/3
    err = 0.5 + 0.5 * 0.5 / 3.0
    assert abs(r["err_q6"] - err) < 2e-6
    assert abs(r["mrr_q6"] - 1.0) < 2e-6
    assert abs(r["p_at_k_q6"] - 2.0 / 3.0) < 2e-6
    assert abs(r["recall_at_k_q6"] - 1.0) < 2e-6
    assert r["n_ranked"] == 3 and r["n_rel_total"] == 2


def test_rank_metrics_k_cut_and_no_relevant(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        rank_metrics_at_k,
    )

    rows = [
        ("q1", 1, 0), ("q1", 2, 1), ("q1", 3, 1),
        ("q2", 1, 0), ("q2", 2, 0),
    ]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel int")
    out = {
        r["query_id"]: r
        for r in rank_metrics_at_k(
            df, "rel", "rank", ("query_id",), k=2, gmax=1
        ).collect()
    }
    # k=2 cut: one of q1's two relevant inside; recall denominator is
    # the WHOLE judged table (2 relevant)
    assert abs(out["q1"]["p_at_k_q6"] - 0.5) < 2e-6
    assert abs(out["q1"]["recall_at_k_q6"] - 0.5) < 2e-6
    assert abs(out["q1"]["mrr_q6"] - 0.5) < 2e-6
    # ERR only folds ranks <= k: 0 at rank1, 0.5/2 at rank2
    assert abs(out["q1"]["err_q6"] - 0.25) < 2e-6
    # no relevant: MRR and recall NULL (undefined), ERR 0
    assert out["q2"]["mrr_q6"] is None
    assert out["q2"]["recall_at_k_q6"] is None
    assert out["q2"]["err_q6"] == 0.0
    assert out["q2"]["p_at_k_q6"] == 0.0


def test_rank_metrics_graded_err(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        rank_metrics_at_k,
    )

    # graded relevance, gmax=2: R = (2^g - 1)/4 -> g=2 gives 0.75
    rows = [("q", 1, 2), ("q", 2, 1)]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel int")
    r = rank_metrics_at_k(
        df, "rel", "rank", ("query_id",), k=2, gmax=2
    ).collect()[0]
    err = 0.75 / 1.0 + (1 - 0.75) * (0.25 / 2.0)
    assert abs(r["err_q6"] - err) < 2e-6


def test_doubly_robust_model_ends(spark):
    from pyspark.sql import functions as F
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        doubly_robust_value,
        off_policy_value,
    )

    rows = []
    for i in range(200):
        action = "x" if i % 3 == 0 else "y"
        target = "x"
        k = (i % 9) + 1
        r = float(i % 7)
        rows.append((action, target, k, r))
    df = spark.createDataFrame(
        rows, "action string, target string, k int, value double"
    )
    # perfect outcome model (qhat = r): correction term vanishes for
    # matches AND non-matches get the true value -> DR = mean(r) = DM
    perfect = df.withColumn("qhat", F.col("value"))
    r1 = doubly_robust_value(
        perfect, "action", "target", "k", "value", "qhat"
    ).collect()[0]
    mean_r = sum(float(i % 7) for i in range(200)) / 200.0
    assert abs(r1["dr_q6"] - mean_r) < 2e-6
    assert abs(r1["dm_q6"] - mean_r) < 2e-6
    # zero model: DR collapses to IPS exactly
    zero = df.withColumn("qhat", F.lit(0.0))
    r0 = doubly_robust_value(
        zero, "action", "target", "k", "value", "qhat"
    ).collect()[0]
    ips = off_policy_value(df, "action", "target", "k", "value").collect()[
        0
    ]["ips_q6"]
    assert abs(r0["dr_q6"] - ips) < 2e-6
    assert r0["dm_q6"] == 0.0


def test_lift_table_perfect_classifier(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        lift_table,
    )

    # 100 rows, 20 positives, perfect score separation
    rows = [(i, 1 if i < 20 else 0, float(100 - i)) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, y long, score double")
    out = {
        r["bucket"]: r
        for r in lift_table(df, "score", "y", "id", 10).collect()
    }
    assert len(out) == 10 and all(out[b]["n"] == 10 for b in out)
    # top two deciles capture everything: lift 5x, then cumulative
    # gain hits 1.0 and stays
    assert out[1]["n_pos"] == 10 and abs(out[1]["lift_q6"] - 5.0) < 2e-6
    assert abs(out[2]["cum_gain_q6"] - 1.0) < 2e-6
    assert out[3]["n_pos"] == 0 and out[3]["lift_q6"] == 0.0
    assert abs(out[10]["cum_lift_q6"] - 1.0) < 2e-6  # full depth = base


def test_lift_table_random_scores_flat(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        lift_table,
    )

    rows = [
        (i, 1 if i % 5 == 0 else 0, float((i * 37) % 101))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, y long, score double")
    out = lift_table(df, "score", "y", "id", 10).collect()
    # uninformative scores: no decile shows strong lift and the full
    # depth converges to the base rate exactly
    assert max(r["lift_q6"] for r in out) < 3.0
    full = [r for r in out if r["bucket"] == 10][0]
    assert abs(full["cum_lift_q6"] - 1.0) < 2e-6
    assert abs(full["cum_gain_q6"] - 1.0) < 2e-6


def test_ppv_at_prevalence_hand_case(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        ppv_npv_at_prevalence,
    )
    from pyspark.sql import functions as F

    # se = 0.9 (18/20), sp = 0.8 (64/80)
    rows = (
        [(1, True)] * 18 + [(1, False)] * 2
        + [(0, True)] * 16 + [(0, False)] * 64
    )
    df = spark.createDataFrame(rows, "y long, pred boolean")
    out = {
        r["prev_pct"]: r
        for r in ppv_npv_at_prevalence(
            df, F.col("pred"), "y", prevalences=(1, 50)
        ).collect()
    }
    assert abs(out[50]["se_q6"] - 0.9) < 2e-6
    assert abs(out[50]["sp_q6"] - 0.8) < 2e-6
    # at 50%: ppv = .9/(.9+.2) ; at 1%: base-rate collapse
    assert abs(out[50]["ppv_q6"] - 0.9 / 1.1) < 2e-6
    ppv1 = 0.9 * 0.01 / (0.9 * 0.01 + 0.2 * 0.99)
    assert abs(out[1]["ppv_q6"] - ppv1) < 2e-6
    assert out[1]["ppv_q6"] < 0.05  # the 99%-accurate-detector trap
    assert out[1]["npv_q6"] > 0.99


def test_weighted_kappa_hand_case(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        weighted_kappa,
    )

    # 3 ordinal categories; hand-checkable contingency
    pairs = [(1, 1), (1, 2), (2, 2), (2, 2), (3, 3), (3, 1), (2, 3)]
    df = spark.createDataFrame(pairs, "a int, b int")
    r = weighted_kappa(df, "a", "b").collect()[0]
    n = len(pairs)
    # python twin: O, margins, weighted sums
    from collections import Counter

    o = Counter(pairs)
    ra = Counter(a for a, _ in pairs)
    cb = Counter(b for _, b in pairs)
    for p, key in ((1, "kappa_lin_q6"), (2, "kappa_quad_q6")):
        wo = sum(abs(a - b) ** p * c for (a, b), c in o.items())
        we = sum(
            abs(i - j) ** p * ra[i] * cb[j] for i in ra for j in cb
        )
        exp = 1.0 - n * wo / we
        import math

        assert abs(r[key] - math.floor(exp * 1e6) / 1e6) < 2e-6, key
    assert r["n"] == n and r["k_cats"] == 3


def test_weighted_kappa_perfect_and_constant(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        weighted_kappa,
    )

    # perfect agreement -> both kappas exactly 1
    df = spark.createDataFrame(
        [(i % 4, i % 4) for i in range(40)], "a int, b int"
    )
    r = weighted_kappa(df, "a", "b").collect()[0]
    assert r["kappa_lin_q6"] == 1.0 and r["kappa_quad_q6"] == 1.0
    # both raters constant -> chance disagreement 0 -> NULL kappas
    dfc = spark.createDataFrame([(2, 2)] * 5, "a int, b int")
    rc = weighted_kappa(dfc, "a", "b").collect()[0]
    assert rc["kappa_lin_q6"] is None and rc["kappa_quad_q6"] is None


def test_youden_j_threshold_hand_case(spark):
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        youden_j_threshold,
    )

    # scores 0.1..0.9; positives concentrated above 0.6
    rows = [(0.9, 1), (0.8, 1), (0.7, 1), (0.6, 0), (0.5, 1),
            (0.4, 0), (0.3, 0), (0.2, 0), (0.1, 0)]
    df = spark.createDataFrame(rows, "score double, y int")
    r = youden_j_threshold(df, "score", "y", quantize=2).collect()[0]
    # brute force in python
    import math

    best = None
    for thr in sorted({s for s, _ in rows}, reverse=True):
        tp = sum(1 for s, y in rows if s >= thr and y == 1)
        fp = sum(1 for s, y in rows if s >= thr and y == 0)
        j = tp / 4 - fp / 5
        if best is None or j > best[0] or (j == best[0] and thr > best[1]):
            best = (j, thr, tp, fp)
    assert abs(r["threshold"] - best[1]) < 1e-9
    assert r["tp"] == best[2] and r["fp"] == best[3]
    assert r["tn"] == 5 - best[3] and r["fn"] == 4 - best[2]
    assert abs(r["j_q6"] - math.floor(best[0] * 1e6) / 1e6) < 2e-6
    assert abs(r["tpr_q6"] - math.floor(best[2] / 4 * 1e6) / 1e6) < 2e-6


def test_spiegelhalter_z_calibrated_vs_not(spark):
    import math

    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        spiegelhalter_z,
    )

    # perfectly calibrated: p=0.3 block with 30% positives, p=0.7
    # block with 70% positives -> Z near 0
    rows = [(0.3, 1)] * 30 + [(0.3, 0)] * 70
    rows += [(0.7, 1)] * 70 + [(0.7, 0)] * 30
    df = spark.createDataFrame(rows, "prob double, y int")
    r = spiegelhalter_z(df, "prob", "y", quantize=4).collect()[0]
    assert r["n"] == 200
    assert abs(r["z_q6"]) < 0.5

    # grossly miscalibrated: confident wrong -> strongly positive Z
    rows2 = [(0.95, 0)] * 50 + [(0.05, 1)] * 50
    df2 = spark.createDataFrame(rows2, "prob double, y int")
    r2 = spiegelhalter_z(df2, "prob", "y", quantize=4).collect()[0]
    assert r2["z_q6"] > 5.0

    # python twin of the integer-grid closed form on the first case
    s = 10000
    num = sum((s * y - round(p * s)) * (s - 2 * round(p * s))
              for p, y in rows)
    den = sum(round(p * s) * (s - round(p * s))
              * (s - 2 * round(p * s)) ** 2 for p, y in rows)
    z = num / math.sqrt(den)
    assert abs(r["z_q6"] - math.floor(z * 1e6) / 1e6) < 2e-6

    # degenerate: all probabilities at 0/1 -> null
    df3 = spark.createDataFrame(
        [(1.0, 1)] * 5 + [(0.0, 0)] * 5, "prob double, y int"
    )
    assert spiegelhalter_z(df3, "prob", "y").collect()[0]["z_q6"] is None


def test_rank_biased_precision_hand_case(spark):
    import math

    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        rank_biased_precision,
    )

    # q1: rel at ranks 1,3 of depth 5; q2: nothing relevant
    rows = [("q1", 1, 1), ("q1", 2, 0), ("q1", 3, 1), ("q1", 4, 0),
            ("q1", 5, 0)] + [("q2", r, 0) for r in range(1, 6)]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel int")
    out = {
        r["query_id"]: r
        for r in rank_biased_precision(
            df, "rel", "rank", ("query_id",)
        ).collect()
    }
    exp = 0.2 * (0.8 ** 0 + 0.8 ** 2)
    assert out["q1"]["n_ranked"] == 5
    assert abs(out["q1"]["rbp_q6"] - math.floor(exp * 1e6) / 1e6) < 2e-6
    assert out["q2"]["rbp_q6"] == 0.0
    res = 0.8 ** 5
    assert abs(out["q1"]["rbp_residual_q6"]
               - math.floor(res * 1e6) / 1e6) < 2e-6

    # exact only while 5^d < 2^53 (d <= 22) and ranks are exactly 1..d:
    # a gapped or repeated rank, or a deeper pool, reads NULL
    rows = [("gap", r, 1) for r in (1, 2, 4)]
    rows += [("dup", r, 1) for r in (1, 2, 2)]
    rows += [("d22", r, r % 2) for r in range(1, 23)]
    rows += [("d23", r, r % 2) for r in range(1, 24)]
    df = spark.createDataFrame(rows, "query_id string, rank int, rel int")
    out = {
        r["query_id"]: r
        for r in rank_biased_precision(
            df, "rel", "rank", ("query_id",)
        ).collect()
    }
    for q in ("gap", "dup", "d23"):
        assert out[q]["rbp_q6"] is None, q
        assert out[q]["rbp_residual_q6"] is None, q
    assert out["gap"]["n_ranked"] == 3 and out["d23"]["n_ranked"] == 23
    exp = 0.2 * sum(0.8 ** (r - 1) for r in range(1, 23, 2))
    assert abs(out["d22"]["rbp_q6"] - math.floor(exp * 1e6) / 1e6) < 2e-6
    assert abs(out["d22"]["rbp_residual_q6"]
               - math.floor(0.8 ** 22 * 1e6) / 1e6) < 2e-6

    import pytest

    with pytest.raises(ValueError):
        rank_biased_precision(df, "rel", "rank", ("query_id",), p_num=5,
                              p_den=5)


def test_hosmer_lemeshow_calibrated_vs_not(spark):
    import math

    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        hosmer_lemeshow,
    )

    # three exactly-calibrated blocks landing in bins 0/1/3 of 4 ->
    # O == E per bin -> chi2 exactly 0
    rows = [(0.15, 1)] * 15 + [(0.15, 0)] * 85
    rows += [(0.45, 1)] * 45 + [(0.45, 0)] * 55
    rows += [(0.85, 1)] * 85 + [(0.85, 0)] * 15
    df = spark.createDataFrame(rows, "prob double, y int")
    r = hosmer_lemeshow(df, "prob", "y", n_bins=4).collect()[0]
    assert r["n"] == 300
    assert r["n_bins_used"] == 3 and r["dof"] == 1
    assert r["chi2_q6"] == 0.0

    # same occupancy but confidently wrong -> huge chi2; python twin
    rows2 = [(0.15, 0)] * 15 + [(0.15, 1)] * 85
    rows2 += [(0.45, 1)] * 45 + [(0.45, 0)] * 55
    rows2 += [(0.85, 0)] * 85 + [(0.85, 1)] * 15
    df2 = spark.createDataFrame(rows2, "prob double, y int")
    r2 = hosmer_lemeshow(df2, "prob", "y", n_bins=4).collect()[0]
    assert r2["chi2_q6"] > 100.0
    chi2 = 0.0
    for o1, e1, n in ((85, 15.0, 100), (45, 45.0, 100), (15, 85.0, 100)):
        e0 = n - e1
        o0 = n - o1
        chi2 += (o1 - e1) ** 2 / e1 + (o0 - e0) ** 2 / e0
    assert abs(r2["chi2_q6"] - math.floor(chi2 * 1e6) / 1e6) < 1e-4

    # fewer than 3 occupied bins -> null verdict by design
    rows3 = [(0.9, 0)] * 50 + [(0.1, 1)] * 50
    df3 = spark.createDataFrame(rows3, "prob double, y int")
    r3 = hosmer_lemeshow(df3, "prob", "y", n_bins=4).collect()[0]
    assert r3["n_bins_used"] == 2 and r3["chi2_q6"] is None
