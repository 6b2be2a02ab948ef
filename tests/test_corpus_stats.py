"""Corpus-statistics operators: PMI collocations, Zipf fit, JS
divergence, two-sample KS. All are closed-form-checkable on planted
corpora — these tests pin exact values the DuckDB oracles then
re-confirm at sf scale.
"""
import math

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import drift, lm


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_pmi_bigrams_closed_form(spark):
    # unigrams: a=3 b=2 c=1 (N_uni=6); bigrams: (a,b)=2 (a,c)=1 (N_big=3)
    # pmi(a,b) = log2((2/3) / ((3/6)*(2/6))) = log2(4) = 2.0
    # pmi(a,c) = log2((1/3) / ((3/6)*(1/6))) = log2(4) = 2.0
    d = _docs(spark, ["a b", "a b", "a c"])
    rows = {
        (r["a"], r["b"]): (r["n_ab"], r["pmi_q"])
        for r in lm.pmi_bigrams(d, min_count=1, top_k=10).collect()
    }
    assert rows == {("a", "b"): (2, 2.0), ("a", "c"): (1, 2.0)}


def test_pmi_min_count_filters(spark):
    d = _docs(spark, ["a b", "a b", "a c"])
    rows = lm.pmi_bigrams(d, min_count=2, top_k=10).collect()
    assert [(r["a"], r["b"]) for r in rows] == [("a", "b")]


def test_zipf_fit_exact_power_law(spark):
    # counts 12/rank at ranks 1..4 -> log2(cnt) = log2(12) - log2(rank):
    # an exact line with slope -1, r2 = 1
    words = (
        ["w1"] * 12 + ["w2"] * 6 + ["w3"] * 4 + ["w4"] * 3
    )
    d = _docs(spark, [" ".join(words)])
    r = lm.zipf_fit(d, top_k=10).collect()[0]
    assert r["n_tokens_ranked"] == 4
    assert r["slope"] == -1.0
    assert r["r2"] == 1.0


def test_js_divergence_bounds_and_symmetry(spark):
    a = _docs(spark, ["x y z x"])
    b = _docs(spark, ["x y z x"])
    same = lm.js_divergence(a, b).collect()[0]
    assert same["jsd_q"] == 0.0
    assert same["n_tokens_a"] == 4 and same["n_tokens_b"] == 4

    # dyadic shares (1/2,1/4,1/4 vs 1/2,1/2) so the disjoint-support
    # JSD of exactly 1 bit is exact in float regardless of sum order
    c = _docs(spark, ["p q p q"])
    disjoint = lm.js_divergence(a, c).collect()[0]
    assert disjoint["jsd_q"] == 1.0  # disjoint supports = exactly 1 bit

    ab = lm.js_divergence(a, c).collect()[0]["jsd_q"]
    ba = lm.js_divergence(c, a).collect()[0]["jsd_q"]
    assert ab == ba


def test_ks_statistic_exact_values(spark):
    base = spark.createDataFrame([(float(v),) for v in (1, 2)], "v double")
    cur = spark.createDataFrame([(float(v),) for v in (2, 3)], "v double")
    r = drift.ks_statistic(base, cur, "v").collect()[0]
    # cdf diffs at pooled values 1,2,3: |1/2-0|, |1-1/2|, |1-1| -> max 1/2
    assert (r["n_base"], r["n_cur"], r["ks_num"], r["ks"]) == (2, 2, 2, 0.5)

    disjoint = drift.ks_statistic(
        base,
        spark.createDataFrame([(9.0,), (10.0,), (11.0,)], "v double"),
        "v",
    ).collect()[0]
    assert disjoint["ks"] == 1.0 and disjoint["ks_num"] == 6


def test_ks_statistic_quantize_bins_map_side(spark):
    # with quantize=0, 1.26 and 0.74 pool into the same bin value 1.0:
    # identical binned distributions -> ks 0
    base = spark.createDataFrame([(1.26,), (2.0,)], "v double")
    cur = spark.createDataFrame([(0.74,), (2.4,)], "v double")
    r = drift.ks_statistic(base, cur, "v", quantize=0).collect()[0]
    assert r["ks"] == 0.0


def test_chi2_terms_closed_form(spark):
    # 'cat' appears only in en, 'dog' only in de, 2 tokens each, N=4:
    # chi2 = N(n11*n00 - n10*n01)^2 / (2*2*2*2) = 4*16/16 = 4.0 for all
    d = spark.createDataFrame(
        [(0, "cat cat", "en"), (1, "dog dog", "de")],
        "doc_id long, text string, lang string",
    )
    rows = {
        (r["class"], r["word"]): (r["n11"], r["chi2_q"])
        for r in lm.chi2_terms(d, min_count=1, top_k=10).collect()
    }
    assert rows == {("en", "cat"): (2, 4.0), ("de", "dog"): (2, 4.0)}


def test_event_transitions_exact_probabilities(spark):
    import datetime as dt

    from png_from_pdf_extracter_spark.operators.sessions import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: a b a b ; user 2: a b
    for u, seq in ((1, "abab"), (2, "ab")):
        for i, s in enumerate(seq):
            rows.append((u, i, t0 + dt.timedelta(minutes=i), s))
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in event_transitions(ev, order_cols=("event_id",)).collect()
    }
    # from 'a': 3x -> b (p=1.0); from 'b': 1x -> a (p=1.0)
    assert got == {("a", "b"): (3, 1.0), ("b", "a"): (1, 1.0)}


def test_edit_distance_pairs_blocked(spark):
    from png_from_pdf_extracter_spark.functions import dedup

    d = spark.createDataFrame(
        [
            (1, "Apple pie"),
            (2, "apple pix"),
            (3, "apple pie"),
            (4, "banana"),
            (5, "apple pie with extras"),  # same block, length off by >2
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id1"], r["id2"]): r["dist"]
        for r in dedup.edit_distance_pairs(
            d, "doc_id", "text", max_dist=2, block_len=5
        ).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 0, (2, 3): 1}


def test_edit_distance_max_block_drops_hot_blocks_only(spark):
    """The r4 scale-probe guard: within-block candidates are quadratic
    and block population grows with the corpus, so ``max_block`` must
    drop oversize blocks BEFORE the join while leaving small blocks'
    pairs bit-identical to the ungated run."""
    from png_from_pdf_extracter_spark.functions import dedup

    hot = [(i, "widget red") for i in range(10)]  # one 10-member block
    cold = [(100, "gizmo blue"), (101, "gizmo blux"), (102, "sprocket")]
    d = spark.createDataFrame(hot + cold, "doc_id long, text string")
    ungated = dedup.edit_distance_pairs(
        d, "doc_id", "text", max_dist=2, block_len=5
    )
    gated = dedup.edit_distance_pairs(
        d, "doc_id", "text", max_dist=2, block_len=5, max_block=5
    )
    assert ungated.count() == 45 + 1  # C(10,2) hot + the gizmo pair
    got = {(r["id1"], r["id2"]): r["dist"] for r in gated.collect()}
    assert got == {(100, 101): 1}  # hot block gone, cold pair intact


def test_hits_star_graph_closed_form(spark):
    """Star graph center->leaf_i (3 leaves), 2 iterations, unnormalized:
    a1(leaf)=1, h1(center)=3, a2(leaf)=3, h2(center)=9."""
    from png_from_pdf_extracter_spark.functions.graph import hits

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    got = {
        r["node"]: (r["hub"], r["auth"]) for r in hits(e, 2).collect()
    }
    assert got == {0: (9, 0), 1: (0, 3), 2: (0, 3), 3: (0, 3)}
