"""isotonic_calibrate (binned PAVA), quantile_normalize and the 1-D
Wasserstein distance: brute-force pins against pure-Python references,
plus the defining invariants (monotone fit, pooled-distribution match,
zero distance between identical samples)."""

import math

import pytest

from png_from_pdf_extracter_spark.functions.evalmetrics import (
    isotonic_calibrate,
)
from png_from_pdf_extracter_spark.functions.drift import quantile_normalize


# ---- isotonic_calibrate ----


def _minimax_fit(ws, ss):
    """PAVA by the minimax duality: fit(k) = max_{i<=k} min_{j>=k}
    avg(i..j) — the O(n^3) oracle."""
    n = len(ws)
    out = []
    for k in range(n):
        best = -1.0
        for i in range(k + 1):
            mn = 2.0
            for j in range(k, n):
                w = sum(ws[i : j + 1])
                s = sum(ss[i : j + 1])
                mn = min(mn, s / w)
            best = max(best, mn)
        out.append(best)
    return out


def test_isotonic_matches_minimax_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = [
        (rng.uniform(-1, 1), rng.random() < 0.3 + 0.3 * (i % 3))
        for i in range(400)
    ]
    df = spark.createDataFrame(
        [(s, int(y)) for s, y in rows], "score double, y int"
    )
    got = {
        r["bin"]: r
        for r in isotonic_calibrate(df, "score", "y", n_bins=12).collect()
    }
    # rebuild bins in python
    bins = {}
    for s, y in rows:
        b = min(max(int(math.floor((s + 1.0) / 2.0 * 12)), 0), 11)
        w, p = bins.get(b, (0, 0))
        bins[b] = (w + 1, p + int(y))
    order = sorted(bins)
    fits = _minimax_fit(
        [bins[b][0] for b in order], [bins[b][1] for b in order]
    )
    for b, f in zip(order, fits):
        assert got[b]["n"] == bins[b][0]
        assert got[b]["pos"] == bins[b][1]
        assert got[b]["fit_ppm"] == math.floor(f * 1e6)


def test_isotonic_fit_is_monotone_and_pool_preserving(spark):
    df = spark.createDataFrame(
        [(i / 100.0, int(i % 4 == 0)) for i in range(-99, 100)],
        "score double, y int",
    )
    rows = sorted(
        isotonic_calibrate(df, "score", "y", n_bins=16).collect(),
        key=lambda r: r["bin"],
    )
    fits = [r["fit_ppm"] for r in rows]
    assert fits == sorted(fits)
    # weighted mean of fit equals global positive rate (PAVA identity)
    tot_n = sum(r["n"] for r in rows)
    tot_pos = sum(r["pos"] for r in rows)
    approx = sum(r["fit_ppm"] / 1e6 * r["n"] for r in rows) / tot_n
    assert abs(approx - tot_pos / tot_n) < 1e-3


def test_isotonic_already_monotone_is_identity(spark):
    # perfectly calibrated staircase: fit == per-bin rate
    data = []
    for b in range(4):
        for i in range(20):
            data.append(((b + 0.5) / 2 - 1.0, int(i < 5 * b)))
    df = spark.createDataFrame(data, "score double, y int")
    rows = isotonic_calibrate(df, "score", "y", n_bins=4).collect()
    for r in rows:
        assert r["fit_ppm"] == math.floor(r["pos"] / r["n"] * 1e6)
    with pytest.raises(ValueError):
        isotonic_calibrate(df, "score", "y", n_bins=0)


# ---- quantile_normalize ----


def _qn_reference(vals, B):
    """Plain-python quantile normalization (simple O(C*B) anchors)."""
    pooled = sorted(v for _, _, v in vals)
    N = len(pooled)
    anchors = {
        b: pooled[(b * (N - 1)) // B] if N > 1 else pooled[0]
        for b in range(B + 1)
    }
    out = {}
    groups = {}
    for g, i, v in vals:
        groups.setdefault(g, []).append((v, i))
    for g, rows in groups.items():
        rows.sort()
        ng = len(rows)
        for rank, (v, i) in enumerate(rows):
            b = B // 2 if ng == 1 else (rank * B) // (ng - 1)
            out[(g, i)] = anchors[b]
    return out


def test_quantile_normalize_bruteforce(spark):
    import random

    rng = random.Random(5)
    vals = [
        (f"g{j % 3}", j, rng.randrange(0, 1000)) for j in range(120)
    ]
    df = spark.createDataFrame(vals, "g string, id long, v long")
    got = {
        (r["g"], r["id"]): r["norm_q"]
        for r in quantile_normalize(df, "g", "id", "v", anchors=16).collect()
    }
    expect = _qn_reference(vals, 16)
    assert got == {k: float(v) for k, v in expect.items()}


def test_quantile_normalize_identical_groups_fixed_point(spark):
    # every group already has the pooled distribution -> norm == value
    # (group sizes equal, values aligned rank-for-rank)
    vals = [(g, gi * 10 + j, float(j)) for gi, g in enumerate("abc")
            for j in range(11)]
    df = spark.createDataFrame(vals, "g string, id long, v double")
    rows = quantile_normalize(df, "g", "id", "v", anchors=10).collect()
    for r in rows:
        assert r["norm_q"] == r["value_q"]


def test_quantile_normalize_monotone_within_group(spark):
    import random

    rng = random.Random(9)
    vals = [("a", j, rng.randrange(0, 50)) for j in range(60)] + [
        ("b", 100 + j, rng.randrange(500, 600)) for j in range(40)
    ]
    df = spark.createDataFrame(vals, "g string, id long, v long")
    rows = quantile_normalize(df, "g", "id", "v", anchors=32).collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append((r["value_q"], r["id"], r["norm_q"]))
    for g, lst in by_g.items():
        lst.sort()
        norms = [n for _, _, n in lst]
        assert norms == sorted(norms)
    # both groups map onto the SAME pooled scale: b's low end >= a's low end
    with pytest.raises(ValueError):
        quantile_normalize(df, "g", "id", "v", anchors=0)


# ---- wasserstein_1d ----

from png_from_pdf_extracter_spark.functions.drift import (  # noqa: E402
    wasserstein_1d,
)


def _emd(spark, a_vals, b_vals, quantize=2):
    rows = [("a", float(v)) for v in a_vals] + [
        ("b", float(v)) for v in b_vals
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    return wasserstein_1d(df, "v", "g", "a", "b", quantize=quantize).collect()[0]


def test_emd_identical_distributions_zero(spark):
    r = _emd(spark, [1, 2, 3, 3], [1, 2, 3, 3])
    assert r["emd_q"] == 0.0
    assert r["n_a"] == 4 and r["n_b"] == 4


def test_emd_point_masses_distance(spark):
    # all mass at 0 vs all at 7.5 -> W1 exactly 7.5
    r = _emd(spark, [0, 0, 0], [7.5, 7.5])
    assert r["emd_q"] == 7.5


def test_emd_shift_equals_offset(spark):
    # shifting a distribution by d moves W1 by exactly d
    base = [0, 1, 2, 5, 9]
    r = _emd(spark, base, [v + 2.25 for v in base])
    assert r["emd_q"] == 2.25


def test_emd_matches_bruteforce(spark):
    import math
    import random

    rng = random.Random(17)
    a = [rng.uniform(0, 10) for _ in range(40)]
    b = [rng.uniform(3, 12) for _ in range(25)]
    r = _emd(spark, a, b)
    # reference: integral of |Fa - Fb| over the quantized grid
    qa = sorted(round(v * 100) for v in a)
    qb = sorted(round(v * 100) for v in b)
    vs = sorted(set(qa) | set(qb))
    na, nb = len(qa), len(qb)
    emd_int = 0
    import bisect

    for lo, hi in zip(vs, vs[1:]):
        ca = bisect.bisect_right(qa, lo)
        cb = bisect.bisect_right(qb, lo)
        emd_int += abs(ca * nb - cb * na) * (hi - lo)
    expect = math.floor(emd_int / (na * nb * 100) * 1e6) / 1e6
    assert r["emd_q"] == expect


def test_emd_single_point_both_sides(spark):
    r = _emd(spark, [4.0], [4.0])
    assert r["emd_q"] == 0.0
