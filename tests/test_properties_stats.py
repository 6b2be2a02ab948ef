"""Property-based tests (hypothesis): the rolling median
(functions/stats.py), interval union and EWMA (operators/temporal.py),
the KMV distinct sketch (functions/sketch.py) and the Kneser-Ney bigram
model (functions/lm.py), each pinned against a naive brute-force Python
reference on arbitrary small inputs — randomized + shrinking coverage
on top of the hand fixtures in test_stats.py / test_temporal.py.
Integer payloads keep every comparison exact.
"""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from png_from_pdf_extracter_spark.functions.stats import rolling_median
from png_from_pdf_extracter_spark.operators.temporal import interval_union

_settings = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)

# small integer value pools force ties, the interesting case everywhere
_vals = st.lists(
    st.integers(min_value=0, max_value=8), min_size=1, max_size=24
)


@_settings
@given(vals=st.lists(st.integers(0, 9), min_size=1, max_size=30))
def test_rolling_median_matches_bruteforce(spark, vals):
    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "g string, i long, v double",
    )
    out = (
        rolling_median(df, ("g",), ("i",), "v", window_rows=4, quantize=0)
        .orderBy("i")
        .collect()
    )
    for i, r in enumerate(out):
        frame = sorted(vals[max(0, i - 3) : i + 1])
        assert r["med_q"] == frame[math.ceil(len(frame) / 2) - 1]


@_settings
@given(
    ivs=st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 20)),
        min_size=1,
        max_size=20,
    )
)
def test_interval_union_matches_bruteforce(spark, ivs):
    """covered_us must equal the length of the literal set-union of the
    integer second-ranges, for ANY interval multiset."""
    df = spark.createDataFrame(
        [
            (
                "k",
                f"2026-01-01 00:{s // 60:02d}:{s % 60:02d}",
                f"2026-01-01 00:{(s + d) // 60:02d}:{(s + d) % 60:02d}",
            )
            for s, d in ivs
        ],
        "g string, start_ts string, end_ts string",
    ).selectExpr(
        "g",
        "cast(start_ts as timestamp) as start_ts",
        "cast(end_ts as timestamp) as end_ts",
    )
    r = interval_union(df, ("g",), "start_ts", "end_ts").collect()[0]
    covered = set()
    for s, d in ivs:
        covered.update(range(s, s + d))
    assert r["covered_us"] == len(covered) * 1_000_000
    assert r["n_intervals"] == len(ivs)


# ---- batch 2: ewma / kmv / kneser-ney ----

import hashlib

from png_from_pdf_extracter_spark.functions.lm import kn_bigram_perplexity
from png_from_pdf_extracter_spark.functions.sketch import (
    kmv_build,
    kmv_estimate,
)
from png_from_pdf_extracter_spark.operators.temporal import ewma


@_settings
@given(
    vals=st.lists(
        st.floats(
            min_value=-100,
            max_value=100,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_ewma_bit_exact_vs_python_fold(spark, vals):
    """The distributed fold must equal the literal Python recurrence
    BIT-FOR-BIT (same doubles, same op order, dyadic alpha)."""
    df = spark.createDataFrame(
        [("k", i, float(v)) for i, v in enumerate(vals)],
        "g string, i long, v double",
    )
    r = ewma(df, ("g",), ("i",), "v").collect()[0]
    s = vals[0]
    for x in vals[1:]:
        s = s * 0.75 + x * 0.25
    assert r["ewma"] == math.floor(s * 1e6) / 1e6


@_settings
@given(
    items=st.lists(
        st.integers(0, 400), min_size=1, max_size=120, unique=True
    ),
    k=st.sampled_from([4, 16, 64]),
)
def test_kmv_matches_python_md5_reference(spark, items, k):
    """The sketch state must be exactly the k smallest 60-bit md5
    prefixes hashlib computes, and the estimate the same formula."""
    df = spark.createDataFrame(
        [("g", str(i)) for i in items], "g string, item string"
    )
    sk = kmv_build(df, "item", ("g",), k=k)
    got = sorted(r["h"] for r in sk.collect())
    ref = sorted(
        int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        for i in items
    )[:k]
    assert got == ref
    est = kmv_estimate(sk, ("g",), k=k).collect()[0]
    if len(items) < k:
        assert est["est_distinct"] == len(items)
    else:
        assert est["est_distinct"] == math.floor(
            (k - 1) * 2.0**60 / ref[k - 1]
        )


@_settings
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=8),
        min_size=1,
        max_size=10,
    )
)
def test_kneser_ney_matches_python_model(spark, docs):
    """Per-doc KN avg_nll must match a dict-built Python model of the
    same corpus at the emitted 3dp rounding."""
    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["avg_nll"]
        for r in kn_bigram_perplexity(df).collect()
    }
    # python reference
    from collections import Counter, defaultdict

    bg = Counter()
    for d in docs:
        for w1, w2 in zip(d, d[1:]):
            bg[(w1, w2)] += 1
    c1, n1fwd, n1back = Counter(), Counter(), Counter()
    for (w1, w2), c in bg.items():
        c1[w1] += c
        n1fwd[w1] += 1
        n1back[w2] += 1
    ntypes = len(bg)
    ref = {}
    for i, d in enumerate(docs):
        if len(d) < 2:
            continue
        nll = []
        for w1, w2 in zip(d, d[1:]):
            p = max(bg[(w1, w2)] - 0.75, 0.0) / c1[w1] + (
                0.75 * n1fwd[w1] / c1[w1]
            ) * (n1back[w2] / ntypes)
            nll.append(-math.log(p))
        ref[i] = round(sum(nll) / len(nll), 3)
    assert set(out) == set(ref)
    for i in ref:
        assert abs(out[i] - ref[i]) <= 0.001  # 3dp emit, float avg order
