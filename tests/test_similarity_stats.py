"""Embedding summary statistics: distributed covariance + PCA whitening.

embedding_covariance is the one-pass partial-sufficient-statistics
pattern (per-batch BLAS gram + sums, dim^2-key merge); pca_whiten
consumes it driver-side (bounded dim^2 state) and ships the projection
back as a folded constant. Reference analog: none — these are the
training-data-pipeline statistics the brief adds on top of the
reference surface.
"""
import numpy as np
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import similarity


def _corpus(spark, n=200, dim=6, seed=3, n_null=0):
    rng = np.random.default_rng(seed)
    # correlated dims so the covariance is far from diagonal
    a = rng.standard_normal((n, dim))
    a[:, 1] = 0.7 * a[:, 0] + 0.3 * a[:, 1]
    rows = [(i, [float(x) for x in a[i]]) for i in range(n)]
    rows += [(n + j, None) for j in range(n_null)]
    return (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ),
        a,
    )


def test_embedding_covariance_matches_numpy(spark):
    df, a = _corpus(spark)
    got = {
        (r["d1"], r["d2"]): r["cov"]
        for r in similarity.embedding_covariance(df).collect()
    }
    want = np.cov(a, rowvar=False, ddof=1)
    dim = a.shape[1]
    assert len(got) == dim * (dim + 1) // 2
    for i in range(dim):
        for j in range(i, dim):
            assert abs(got[(i, j)] - want[i, j]) < 1e-9, (i, j)


def test_embedding_covariance_skips_null_vectors(spark):
    df, a = _corpus(spark, n=50, n_null=7)
    got = {
        (r["d1"], r["d2"]): r["cov"]
        for r in similarity.embedding_covariance(df).collect()
    }
    want = np.cov(a, rowvar=False, ddof=1)
    for (i, j), v in got.items():
        assert abs(v - want[i, j]) < 1e-9


def test_pca_whiten_identity_covariance_and_determinism(spark):
    df, a = _corpus(spark, n=300, dim=5)
    w = similarity.pca_whiten(df)
    mat = np.asarray(
        [r["whitened"] for r in w.orderBy("vec_id").collect()]
    )
    c = np.cov(mat, rowvar=False, ddof=1)
    assert np.allclose(c, np.eye(5), atol=1e-6), c
    # deterministic end-to-end (md5-free: eigh on an exact covariance)
    mat2 = np.asarray(
        [
            r["whitened"]
            for r in similarity.pca_whiten(df).orderBy("vec_id").collect()
        ]
    )
    assert np.array_equal(mat, mat2)


def test_pca_whiten_clamps_degenerate_dims(spark):
    # a constant dim has zero variance — whitening must not divide by 0;
    # the clamped component projects to ~0 instead of exploding
    rows = [
        (i, [float(i % 7), 5.0, float((i * 3) % 5)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mat = np.asarray(
        [r["whitened"] for r in similarity.pca_whiten(df).collect()]
    )
    assert np.all(np.isfinite(mat))
    variances = mat.var(axis=0, ddof=1)
    # two live dims whiten to variance 1; the degenerate one stays ~0
    assert sorted(v > 0.5 for v in variances) == [False, True, True]


def test_pca_whiten_empty_corpus_raises(spark):
    import pytest

    df = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.pca_whiten(df)


# ------------------------------------------------------ scalar_quantize

def test_scalar_quantize_hand_computed(spark):
    """v = [1.0, -0.5, 0.25]: scale = 1/127; codes 127, -63 (floor(-63.5
    + 0.5)), 32 (floor(31.75 + 0.5)); checksum matches."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        scalar_quantize,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25])], "vec_id long, embedding array<float>"
    )
    r = scalar_quantize(df).collect()[0]
    import math

    scale = 1.0 / 127.0
    codes = [math.floor(x / scale + 0.5) for x in (1.0, -0.5, 0.25)]
    assert codes == [127, -63, 32]
    assert r["dims"] == 3 and r["sum_codes"] == sum(codes)
    expect_err = max(abs(x - c * scale) for x, c in zip((1.0, -0.5, 0.25), codes))
    assert r["max_abs_err"] == math.floor(expect_err * 1e9) / 1e9
    assert r["max_abs_err"] <= scale / 2 + 1e-12  # round-to-nearest bound


def test_scalar_quantize_zero_vector_is_all_zero_not_nan(spark):
    from png_from_pdf_extracter_spark.functions.similarity import (
        scalar_quantize,
    )

    df = spark.createDataFrame(
        [(7, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    r = scalar_quantize(df).collect()[0]
    assert (r["scale_q"], r["sum_codes"], r["max_abs_err"]) == (0.0, 0, 0.0)


def test_scalar_quantize_codes_never_exceed_int8(spark):
    """Max-abs scaling: |code| <= 127 exactly, so int8 storage never
    clamps — checked across a spread of magnitudes including negatives
    at the max position."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        scalar_quantize,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, [(-1.0) ** i * (0.001 * (i + 1)), 0.5, -3.7]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    # recompute codes the same way and bound them
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    worst = df.select(
        F.array_max(
            F.transform(v, lambda x: F.abs(F.floor(x / (amax / 127.0) + F.lit(0.5))))
        ).alias("m")
    ).agg(F.max("m").alias("m")).collect()[0]["m"]
    assert worst <= 127


# ---- JL projection ----

from png_from_pdf_extracter_spark.functions.similarity import (  # noqa: E402
    jl_project,
)


def _jl_ref(vec, out_dim, quantize=6):
    out = []
    q = [round(v * 10**quantize) for v in vec]
    for j in range(out_dim):
        s = 0
        for i, qi in enumerate(q):
            h = (i * 73856093 + j * 19349663 + i * j * 83492791) % 1000003
            s += qi * (1 if h % 2 == 0 else -1)
        out.append(s)
    return out


def test_jl_project_matches_reference(spark):
    vecs = [
        (1, [0.5, -0.25, 0.125, 1.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-1.5, 2.25, -3.0, 0.75]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {}
    for r in jl_project(df, out_dim=4).collect():
        out.setdefault(r["vec_id"], {})[r["dim_j"]] = r["proj_q"]
    for vid, vec in vecs:
        ref = _jl_ref(vec, 4)
        assert [out[vid][j] for j in range(4)] == ref


def test_jl_project_signs_not_degenerate(spark):
    # the i*j cross term must make sign(i, j) differ from parity(i + j)
    # for some cell; otherwise the projection collapses to 2 distinct rows
    df = spark.createDataFrame(
        [(1, [1.0] * 16)], "vec_id long, embedding array<float>"
    )
    vals = {
        r["dim_j"]: r["proj_q"] for r in jl_project(df, out_dim=8).collect()
    }
    assert len(set(vals.values())) > 2


def test_jl_project_distance_preservation_trend(spark):
    # two near-identical vectors stay closer than two far ones in the
    # projected space (JL property at trend level, deterministic input)
    import math

    a = [math.sin(i * 0.7) for i in range(32)]
    b = [v + 0.01 for v in a]
    c = [-v for v in a]
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "vec_id long, embedding array<float>"
    )
    out = {}
    for r in jl_project(df, out_dim=8).collect():
        out.setdefault(r["vec_id"], [0] * 8)[r["dim_j"]] = r["proj_q"]

    def d2(u, v):
        return sum((x - y) ** 2 for x, y in zip(u, v))

    assert d2(out[1], out[2]) < d2(out[1], out[3])


# ---- Procrustes alignment ----

from png_from_pdf_extracter_spark.functions.similarity import (  # noqa: E402
    procrustes_align,
)


def _orth_rows(spark, n=20, d=6):
    import math

    rows = [
        (i, [math.sin(0.7 * i + 0.3 * k) for k in range(d)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_procrustes_recovers_planted_rotation(spark):
    old = _orth_rows(spark)
    d = 6
    # planted orthogonal map: reverse dims + alternate signs
    from pyspark.sql import functions as F

    new = old.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda i: F.element_at(F.col("embedding"), d - i.cast("int"))
            * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        ).alias("embedding"),
    )
    out = procrustes_align(old, new).collect()
    assert len(out) == 20
    assert all(r["resid"] < 1e-9 for r in out)


def test_procrustes_identity_when_unchanged(spark):
    old = _orth_rows(spark)
    out = procrustes_align(old, old).collect()
    assert all(r["resid"] < 1e-9 for r in out)
    # aligned vectors equal the originals
    r0 = [r for r in out if r["vec_id"] == 0][0]
    import math

    ref = [math.sin(0.3 * k) for k in range(6)]
    assert all(abs(a - b) < 1e-9 for a, b in zip(r0["aligned"], ref))


def test_procrustes_empty_overlap_raises(spark):
    import pytest

    old = _orth_rows(spark, n=5)
    new = _orth_rows(spark, n=5).withColumn(
        "vec_id", (F.col("vec_id") + 100)
    )
    with pytest.raises(ValueError, match="no overlapping"):
        procrustes_align(old, new)


def test_linear_cka_identity_permutation_noise(spark):
    from png_from_pdf_extracter_spark.functions.similarity import linear_cka
    import numpy as np

    rng = np.random.RandomState(7)
    x = rng.randint(-500, 500, size=(40, 8)).astype(np.int64)
    perm = x[:, ::-1].copy()
    noise = rng.randint(-500, 500, size=(40, 8)).astype(np.int64)

    def run(y):
        rows = [(x[i].tolist(), y[i].tolist()) for i in range(len(x))]
        df = spark.createDataFrame(
            rows, "xq array<long>, yq array<long>"
        )
        return linear_cka(df, "xq", "yq").collect()[0]

    r_id = run(x)
    assert r_id["n"] == 40 and r_id["dim"] == 8
    assert r_id["cka_q6"] >= 1.0 - 2e-6
    # permutation of dims is orthogonal: CKA stays 1
    assert run(perm)["cka_q6"] >= 1.0 - 2e-6
    # independent noise: near zero
    assert run(noise)["cka_q6"] < 0.2


def test_linear_cka_numpy_twin(spark):
    from png_from_pdf_extracter_spark.functions.similarity import linear_cka
    import numpy as np

    rng = np.random.RandomState(42)
    x = rng.randint(-100, 100, size=(25, 6)).astype(np.int64)
    y = x * np.arange(1, 7) + rng.randint(-30, 30, size=(25, 6))
    rows = [(x[i].tolist(), y[i].tolist()) for i in range(len(x))]
    df = spark.createDataFrame(rows, "xq array<long>, yq array<long>")
    r = linear_cka(df, "xq", "yq").collect()[0]
    xc = x - x.mean(axis=0)
    yc = y - y.mean(axis=0)
    num = np.linalg.norm(yc.T @ xc, "fro") ** 2
    den = np.linalg.norm(xc.T @ xc, "fro") * np.linalg.norm(yc.T @ yc, "fro")
    assert abs(r["cka_q6"] - num / den) < 1e-5
    assert 0.5 < r["cka_q6"] < 1.0  # diagonal gain: similar, not equal


def test_hubness_profile_planted_hub(spark):
    from png_from_pdf_extracter_spark.functions.similarity import (
        hubness_profile,
    )

    # 20 queries; neighbor 99 appears in every list, others spread
    rows = []
    for q in range(20):
        rows.append((q, 99))
        rows.append((q, 200 + q))
    df = spark.createDataFrame(rows, "query_id long, neighbor_id long")
    r = hubness_profile(df).collect()[0]
    assert r["max_occ"] == 20 and r["k_total"] == 40
    assert r["n_points"] == 21
    assert r["skew_q6"] > 3.0  # one dominating hub

    # perfectly balanced occurrences: skew 0
    flat = [(q, 100 + q) for q in range(20)]
    df2 = spark.createDataFrame(flat, "query_id long, neighbor_id long")
    r2 = hubness_profile(df2).collect()[0]
    assert r2["skew_q6"] is None or abs(r2["skew_q6"]) < 1e-6


def test_embedding_isotropy_collapsed_vs_spread(spark):
    from png_from_pdf_extracter_spark.functions.similarity import (
        embedding_isotropy,
    )

    # collapsed: every vector is the SAME direction -> anisotropy ~ 1
    rows = [(i, [1.0, 2.0, 2.0]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_isotropy(df).collect()[0]
    assert r["n"] == 50 and r["dim"] == 3
    assert r["anisotropy_q6"] > 0.999

    # balanced +-v pairs -> pairwise dots cancel -> anisotropy ~ 0
    rows2 = [(i, [4.0, -1.0, 3.0]) for i in range(25)] + [
        (100 + i, [-4.0, 1.0, -3.0]) for i in range(25)
    ]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>"
    )
    r2 = embedding_isotropy(df2).collect()[0]
    assert abs(r2["anisotropy_q6"]) < 0.03

    # brute-force twin on a tiny irregular set (quantized grid)
    import math

    vecs = [[0.3, -1.2], [2.0, 0.7], [-0.5, 0.4], [1.1, 1.1]]
    df3 = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    r3 = embedding_isotropy(df3, quantize=4).collect()[0]
    q = [[round(x * 1e4) for x in v] for v in vecs]
    n = len(q)
    dots = sum(
        sum(a * b for a, b in zip(q[i], q[j]))
        for i in range(n)
        for j in range(n)
        if i != j
    )
    sq = sum(sum(x * x for x in v) for v in q)
    mean_dot = dots / (n * (n - 1)) / 1e8
    aniso = dots / ((n - 1) * sq)
    assert abs(r3["mean_dot_q6"] - math.floor(mean_dot * 1e6) / 1e6) < 2e-6
    assert abs(r3["anisotropy_q6"] - math.floor(aniso * 1e6) / 1e6) < 2e-6

    # NULL and empty vectors contribute no components, so they must not
    # count toward n either: the result equals the clean set's
    dirty = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)] + [(10, None), (11, [])],
        "vec_id long, embedding array<double>",
    )
    assert embedding_isotropy(dirty, quantize=4).collect()[0] == r3


def test_embedding_effective_rank_planted_dims(spark):
    from png_from_pdf_extracter_spark.functions.similarity import (
        embedding_effective_rank,
    )

    # variance lives in exactly 2 of 4 dims (independent, equal) ->
    # PR ~ 2; md5-free determinism via index arithmetic
    rows = [
        (
            i,
            [
                float((i * 7) % 13) - 6.0,
                float((i * 5) % 11) - 5.0,
                0.0,
                0.0,
            ],
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    r = embedding_effective_rank(df).collect()[0]
    assert r["dim"] == 4
    assert 1.7 < r["pr_q6"] < 2.3
    assert abs(r["pr_share_q6"] - r["pr_q6"] / 4) < 1e-5

    # one dominant direction -> PR ~ 1
    rows2 = [(i, [float(i % 100), 0.001 * (i % 3), 0.0]) for i in range(300)]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<double>"
    )
    r2 = embedding_effective_rank(df2).collect()[0]
    assert r2["pr_q6"] < 1.1


def test_embed_neardup_lsh_pairs_are_exact_pairs(spark):
    """q_embed_neardup_lsh's values: every LSH pair is a true near-dup —
    present in the exact self-join (q_embed_near_dup, the vec_id < 500
    slice) with the same cos_sim, ordered id1 < id2, at or above the
    0.35 threshold. Bucketing only trades recall, never precision."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    qs = entry_mod.queries()
    lsh = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in qs["q_embed_neardup_lsh"](spark, sf).collect()
    }
    exact = {
        (r["id1"], r["id2"]): r["cos_sim"]
        for r in qs["q_embed_near_dup"](spark, sf).collect()
    }
    in_slice = {k: v for k, v in lsh.items() if k[1] < 500}
    assert in_slice, "no LSH pair inside the exact slice"
    assert all(a < b for a, b in lsh)
    assert all(v >= 0.35 for v in lsh.values())
    assert all(exact.get(k) == v for k, v in in_slice.items())
