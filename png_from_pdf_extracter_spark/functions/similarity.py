"""Embedding similarity search over an ``array<float>`` column.

- ``cosine_topk``: brute-force top-k — the exact baseline. The query side is
  small and broadcast; the corpus is scanned once; per-row math is
  ``zip_with`` + ``aggregate`` builtins (JVM-side, no Python). At 100 TB you
  shard the corpus by partition and take per-partition top-k before the
  global top-k (that is exactly what the window + filter plan compiles to
  under AQE partial aggregation).
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH buckets via
  deterministic seeded planes; candidates = bucket equi-join, then exact
  rerank inside buckets. Planes are derived from md5 of (seed, dim) so both
  engines / both runs agree without RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of each query vector against the corpus.
    Returns (query_id, neighbor_id, rank, cos_sim). The queries side is
    broadcast (small dim table); ranking window is per query."""
    # norms precomputed per ROW below the join (a join is a projection
    # barrier, so they are not re-inlined per PAIR — O(n+q) norm
    # aggregates instead of O(n*q))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qn") * F.col("cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def hyperplanes(dim: int, n_planes: int):
    """Deterministic pseudo-random hyperplanes: component (p, d) is
    ``bigint(md5(f"{p}:{d}")[:15]) / 2^59 - 1`` in [-1, 1). Pure function —
    no RNG state, reproducible on any engine."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 59) - 1.0)
        planes.append(row)
    return planes


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector length from one row — costs a (tiny) Spark job. Callers that
    know the embedding dimension from their pipeline contract should pass
    ``dim`` explicitly and skip this."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(f"cannot probe dim: no rows / null {vec_col}")
    return len(first[0])


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    dim: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate cosine top-k: sign-of-dot-product with ``n_planes``
    deterministic hyperplanes -> bucket key; candidates share the bucket
    in ANY of ``n_tables`` independent tables; exact rerank within.
    Misses across-all-tables neighbors (the usual LSH recall trade) but
    replaces the cross join with equi-joins — the 100 TB path. Multi-table
    is the standard recall knob for low-similarity corpora: per-table
    collision for similarity s is (1 - acos(s)/pi)^n_planes, and L tables
    raise recall to 1-(1-p)^L at Lx the bucketed-index storage (at scale:
    the corpus is written L times bucketed by (table, bucket), still
    joined by equi-key, never all-pairs). ``dim``: embedding length;
    None -> probed with one extra job."""
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    # ALL planes ship as ONE folded constant (see _nested_lit: per-plane
    # F.lit arrays cost py4j round-trips at build time and codegen bloat
    # at run time — the round-1 PQ lesson applies to LSH too)
    pl = _nested_lit(hyperplanes(dim, n_planes * n_tables))

    def buckets(vec) -> F.Column:
        # one transform over table indices; per table, fold its n_planes
        # sign bits into a long and tag with the table index so buckets
        # never collide across tables
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_tables - 1)),
            lambda t: F.aggregate(
                F.sequence(F.lit(0), F.lit(n_planes - 1)),
                F.lit(0).cast("long"),
                lambda acc, p: acc
                + F.when(
                    _dot(
                        vec,
                        F.element_at(pl, (t * n_planes + p + 1).cast("int")),
                    )
                    >= 0,
                    # shiftleft needs a literal bit count; 2^p is exact in
                    # a double for p < n_planes
                    F.pow(F.lit(2.0), p).cast("long"),
                ).otherwise(F.lit(0).cast("long")),
            )
            + F.shiftleft(t.cast("long"), n_planes),
        )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
        F.explode(buckets(F.col(vec_col))).alias("bucket"),
    )
    # a pair colliding in several tables must be scored once: drop the
    # bucket key and dedupe candidate pairs before the rerank
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .drop("bucket")
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qn") * F.col("cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _resolve_n_cells(
    corpus: DataFrame, n_cells, target_cell_rows: int = 4096
) -> int:
    """``n_cells=None`` -> ``max(16, ceil(n / target_cell_rows))`` from one
    cheap count. The 100-TB cell count must scale with the corpus, not sit
    at a caller-tuned constant: a fixed 16 cells over 10^10 vectors means
    ~10^9-row cells — O(cell) probe scans and (for semdedup) O(cell^2)
    gram matrices. Shared by ``ivf_topk`` / ``ivfpq_topk`` / ``semdedup``;
    tests pin that the resulting cell-size distribution stays bounded as
    the corpus scales 10x."""
    if n_cells is not None:
        return n_cells
    n = corpus.count()
    return max(16, -(-n // target_cell_rows))


def ivf_coarse_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_cells: int = 16
):
    """Deterministic coarse centroids for IVF: the ``n_cells`` corpus
    vectors with smallest md5(id) — a seeded sample with no RNG state, same
    on every run/engine. (Real IVF runs a few k-means iterations; for the
    index structure and query path that follows, the quantizer's quality
    only affects recall, not correctness of the plumbing.) Returns a small
    driver-side list of (cell_idx, vector)."""
    rows = (
        corpus.select(
            F.col(id_col), F.col(vec_col),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_cells)
        .collect()
    )
    return [(i, list(r[vec_col])) for i, r in enumerate(rows)]


def ivf_kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iterations: int = 2,
    seeds=None,
):
    """Lloyd-refined coarse centroids: seed with the deterministic md5
    sample (or caller-provided ``seeds``, e.g. ``_maxmin_seed_centroids``
    for true clustering), then ``iterations`` x (assign-to-nearest-cell,
    recompute cell means). Each iteration is one small Spark job (explode
    dims -> avg per (cell, dim) -> collect n_cells x dim rows to the
    driver). Empty cells keep their previous centroid. Float-sum order
    across partitions makes the means reproducible only to ~1e-12 —
    irrelevant for recall, which is why ivf_topk is rows-only checked
    rather than value-hashed."""
    cents = (
        seeds
        if seeds is not None
        else ivf_coarse_centroids(corpus, id_col, vec_col, n_cells)
    )
    if not cents:
        return cents
    dim = len(cents[0][1])
    for _ in range(iterations):
        assigned = corpus.select(
            F.col(vec_col).alias("v"),
            F.array_min(_cell_candidates(F.col(vec_col), cents))["cell"].alias(
                "cell"
            ),
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["d"]] = r["m"]
        cents = [
            (
                idx,
                [by_cell[idx][d] for d in range(dim)]
                if idx in by_cell
                else old,
            )
            for idx, old in cents
        ]
    return cents


def _cell_candidates(vec, centroids, vec_norm=None) -> F.Column:
    """array<struct<neg_cos, cell>> for all cells — struct ordering sorts by
    first field, so array_min / array_sort pick nearest cells. Pure
    builtins: one ``transform`` (with the position index as the cell id)
    over a single nested constant — the per-cell ``F.lit`` expansion cost
    n_cells x dim py4j calls of driver overhead (see ``_nested_lit``).

    The score is ``-dot(vec, c) / |c|`` — the ROW norm is deliberately
    absent: it is a positive per-row constant across all cells, so it
    cannot change the argmin / probe order, and keeping it inside the
    lambda would re-evaluate an O(dim) aggregate once per CELL per row
    (the Catalyst lambda-inlining pitfall — a pre-projected column would
    not help either, CollapseProject re-inlines it into the lambda).
    Centroid norms ARE per-cell and ship as a second folded constant.
    ``vec_norm`` is accepted for signature compatibility and ignored.

    Requires centroid ids to be exactly their position 0..n-1 (every
    producer enumerates them; validated here because the transform index
    IS the emitted cell id)."""
    import json as _json
    import math

    ordered = sorted(centroids)
    if [i for i, _ in ordered] != list(range(len(ordered))):
        raise ValueError(
            "centroid ids must be exactly 0..n-1 (positional); got "
            f"{[i for i, _ in ordered]}"
        )
    cents = _nested_lit([cvec for _, cvec in ordered])
    cnorms = F.from_json(
        F.lit(_json.dumps(
            [math.sqrt(sum(float(x) * float(x) for x in cvec))
             for _, cvec in ordered]
        )),
        "array<double>",
    )
    return F.transform(
        cents,
        lambda c, i: F.struct(
            (-(_dot(vec, c) / F.element_at(cnorms, i + 1))).alias("neg_cos"),
            i.alias("cell"),
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | None = 16,
    nprobe: int = 2,
    kmeans_iterations: int = 0,
    target_cell_rows: int = 4096,
) -> DataFrame:
    """IVF approximate top-k: corpus rows are assigned to their nearest
    coarse cell (inverted lists); each query probes its ``nprobe`` nearest
    cells and reranks exactly inside them. Candidates come from a cell
    equi-join — the other standard ANN scale path next to hyperplane LSH
    (``lsh_bucket_topk``). At 100 TB the corpus side is written bucketed by
    cell so the probe join prunes to nprobe/n_cells of the data.
    ``kmeans_iterations`` > 0 Lloyd-refines the coarse quantizer (better
    cell balance/recall at the cost of that many extra small jobs).
    ``n_cells=None`` auto-scales the cell count with the corpus
    (``_resolve_n_cells``)."""
    n_cells = _resolve_n_cells(corpus, n_cells, target_cell_rows)
    if kmeans_iterations > 0:
        cents = ivf_kmeans_centroids(
            corpus, id_col, vec_col, n_cells, kmeans_iterations
        )
    else:
        cents = ivf_coarse_centroids(corpus, id_col, vec_col, n_cells)

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
        F.array_min(_cell_candidates(F.col(vec_col), cents))["cell"].alias(
            "cell"
        ),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
        F.explode(
            F.transform(
                F.slice(
                    F.array_sort(_cell_candidates(F.col(vec_col), cents)),
                    1, nprobe,
                ),
                lambda s: s["cell"],
            )
        ).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (F.col("qn") * F.col("cn")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def embedding_near_dup_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id1 < id2,
    cos >= threshold) by self-join — the correctness baseline the LSH
    variant is measured against. O(n^2): run on a bounded slice or one
    LSH/IVF bucket; ``embedding_near_dup_pairs`` is the 100 TB path."""
    l = df.select(
        F.col(id_col).alias("id1"),
        F.col(vec_col).alias("v1"),
        _norm(F.col(vec_col)).alias("n1"),
    )
    r = df.select(
        F.col(id_col).alias("id2"),
        F.col(vec_col).alias("v2"),
        _norm(F.col(vec_col)).alias("n2"),
    )
    return (
        l.join(F.broadcast(r), F.col("id1") < F.col("id2"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id1", "id2", "cos_sim")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify
    (id1 < id2, cos >= threshold). ``dim``: embedding length; None ->
    probed with one extra job."""
    if dim is None:
        dim = _probe_dim(df, vec_col)
    planes = hyperplanes(dim, n_planes)
    plane_cols = [F.array(*[F.lit(x) for x in p]) for p in planes]
    bucket = None
    for i, pc in enumerate(plane_cols):
        bit = F.when(_dot(F.col(vec_col), pc) >= 0, F.lit(1)).otherwise(
            F.lit(0)
        ) * F.lit(1 << i)
        bucket = bit if bucket is None else bucket + bit
    b = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("n"),
        bucket.alias("bucket"),
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("l.vec"), F.col("r.vec"))
                / (F.col("l.n") * F.col("r.n")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(
            F.col("l.id").alias("id1"), F.col("r.id").alias("id2"), "cos_sim"
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-bounded ANN path.
#
# At 100 TB an embedding corpus doesn't fit in executor memory as floats:
# a 64-dim float32 vector is 256 bytes, its PQ code (m=8, ksub=16) is 8
# codes = 8 bytes — a 32x compression. The standard pipeline (FAISS-style,
# "Product Quantization for Nearest Neighbor Search", Jegou et al., PAMI
# 2011 — see PAPERS.md): train per-subspace codebooks on a sample, encode
# the corpus once (stored compact), answer queries by Asymmetric Distance
# Computation — a per-query lookup table of subspace distances, so scoring
# a candidate is m table lookups instead of a dim-length dot product.
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iterations: int = 3,
    sample: int = 256,
):
    """Train per-subspace codebooks driver-side on a deterministic sample.

    Sample = the ``sample`` corpus vectors with smallest md5(id) (no RNG
    state — identical across runs/engines, the same trick as
    ``ivf_coarse_centroids``); Lloyd k-means per subspace in numpy.
    Returns ``codebooks[s][j] = centroid j of subspace s`` (python lists).
    Training state is tiny (m x ksub x dim/m floats) and rides to
    executors inside the plan as literals — no shuffle, no broadcast var.
    """
    import numpy as np

    rows = (
        corpus.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(sample)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty corpus")
    X = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    dsub = dim // m
    books = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        # deterministic seed: first ksub distinct sample rows
        C = Xs[: min(ksub, len(Xs))].copy()
        for _ in range(iterations):
            d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(len(C)):
                mask = assign == j
                if mask.any():
                    C[j] = Xs[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    extra: dict | None = None,
) -> DataFrame:
    """Encode every corpus vector into its ``m`` subspace codes — the
    compact representation stored at scale. Arrow-vectorized numpy over
    ``mapInPandas``-style batches (a scalar pandas UDF): per batch one
    einsum-free argmin over (batch, ksub) squared distances per subspace;
    zero per-row Python. Null embeddings are dropped (see below).
    ``extra``: {name: Column} computed in the SAME projection — e.g. the
    IVF cell id — so building a combined index never needs a second
    corpus scan or a self-join."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    cbs = [np.asarray(b, dtype=np.float64) for b in codebooks]

    @pandas_udf(ArrayType(IntegerType()))
    def _codes(vecs):
        X = np.asarray(vecs.tolist(), dtype=np.float64)
        out = np.empty((len(X), m), dtype=np.int32)
        for s in range(m):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            C = cbs[s]
            # ||x-c||^2 = ||x||^2 - 2xc + ||c||^2; row-constant ||x||^2
            # drops out of the argmin
            d2 = -2.0 * (Xs @ C.T) + (C * C).sum(axis=1)[None, :]
            out[:, s] = d2.argmin(axis=1)
        return pd.Series(list(out))

    # null embeddings would arrive as ragged None rows and crash the numpy
    # batch — drop them here, matching the null-propagating builtins paths
    # (a null vector has no meaningful code)
    clean = corpus.filter(F.col(vec_col).isNotNull())
    cols = [F.col(id_col).alias("neighbor_id"), _codes(F.col(vec_col)).alias("codes")]
    for name, expr in (extra or {}).items():
        cols.append(expr.alias(name))
    return clean.select(*cols)


def _nested_lit(values) -> F.Column:
    """A list-of-lists constant as ONE column expression. Two naive forms
    are catastrophically slow, both measured on a ksub=64 x m=16 x dsub=4
    codebook: per-value ``F.lit`` + nested ``F.array`` is ~4,100 py4j
    round-trips (~19 s of pure driver overhead before Spark sees the
    plan), and expanding per-centroid expressions made Catalyst codegen
    the bottleneck (~90 s). ``from_json`` of a single string literal is
    one py4j call and one constant-folded expression."""
    import json as _json

    return F.from_json(
        F.lit(_json.dumps(values)), "array<array<double>>"
    )


def _adc_table(sub, centroids) -> F.Column:
    """Per-subspace ADC lookup table: squared distance from ``sub`` to
    every codebook centroid — ONE ``transform`` over the single nested
    constant (see ``_nested_lit`` for why not ksub separate
    expressions)."""
    return F.transform(
        _nested_lit(centroids),
        lambda c: F.aggregate(
            F.zip_with(
                sub,
                c,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def _adc_query_frame(
    queries: DataFrame, id_col: str, vec_col: str, codebooks, cell_expr=None
) -> DataFrame:
    """The broadcast query side shared by pq_topk / ivfpq_topk: query_id
    (+ the exploded probe ``cell`` when given) and one ADC lookup table
    per subspace, MATERIALIZED as their own projection before the join —
    the pre-join-projection fix for Catalyst re-inlining the table
    expression into every downstream reference."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    head = [F.col(id_col).alias("query_id")]
    keep = ["query_id"]
    if cell_expr is not None:
        head.append(cell_expr.alias("cell"))
        keep.append("cell")
    base = queries.select(
        *head,
        *[
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(f"_sub{s}")
            for s in range(m)
        ],
    )
    return base.select(
        *keep,
        *[
            _adc_table(F.col(f"_sub{s}"), codebooks[s]).alias(f"_tab{s}")
            for s in range(m)
        ],
    )


def _adc_sum(m: int) -> F.Column:
    """ADC score: sum over subspaces of ``table_s[code_s]`` — m array
    lookups per candidate, never a dim-length dot product."""
    adc = None
    for s in range(m):
        term = F.element_at(
            F.col(f"_tab{s}"), F.element_at("codes", s + 1) + 1
        )
        adc = term if adc is None else adc + term
    return adc


def _adc_finish(
    scored: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    rerank: int,
) -> DataFrame:
    """Shared tail of the PQ query path. ``rerank <= 0``: raw ADC ranking
    (query_id, neighbor_id, rank, pq_dist). Otherwise: top ``rerank*k``
    ADC shortlist per query (``row_number <= R`` — WindowGroupLimit
    partial top-k below the shuffle), then EXACT cosine rerank of the
    shortlist only — a broadcast join back into the corpus touching
    ``queries x R`` raw vectors."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_dist").asc(), F.col("neighbor_id").asc()
    )
    if rerank <= 0:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "pq_dist")
        )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank * k)
        .select("query_id", "neighbor_id", "pq_dist")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    cand = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        )
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim", "pq_dist")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 3,
    codebooks=None,
    rerank: int = 4,
) -> DataFrame:
    """PQ approximate top-k via Asymmetric Distance Computation, the
    query path entirely in JVM builtins:

    - query side (tiny, broadcast): per subspace, a lookup table of
      squared distances from the query subvector to every codebook entry
      (``m`` arrays of ``ksub`` doubles). The tables are PROJECTED before
      the join — the pre-join-projection fix for Catalyst re-inlining the
      table expression into every downstream reference.
    - corpus side: the compact codes from ``pq_encode``.
    - score = sum over subspaces of ``element_at(table_s, code_s + 1)`` —
      m array lookups per candidate, never a dim-length dot product.
    - shortlist: top ``rerank * k`` per query by ADC distance
      (``row_number <= R``, WindowGroupLimit partial top-k below the
      shuffle), then EXACT cosine rerank of the shortlist only — the
      standard PQ deployment: the compressed scan prunes the corpus, the
      exact pass touches ``queries x R`` raw vectors (a broadcast join
      back into the corpus). ``rerank=0`` returns the raw ADC ranking.

    Approximate by construction (quantization error), so rows-only
    checked; recall vs the exact baseline is pinned in tests
    (~0.9 recall@5 at m=16/ksub=64/rerank=4 on near-random unit vectors
    — the hardest case; clustered real embeddings do better).
    """
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, id_col, vec_col, m=m, ksub=ksub, iterations=iterations
        )
    encoded = pq_encode(corpus, codebooks, id_col, vec_col)
    q = _adc_query_frame(queries, id_col, vec_col, codebooks)
    scored = encoded.join(
        F.broadcast(q), F.col("neighbor_id") != F.col("query_id")
    ).withColumn("pq_dist", F.round(_adc_sum(len(codebooks)), 6))
    return _adc_finish(scored, corpus, queries, id_col, vec_col, k, rerank)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_cells: int | None = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 3,
    rerank: int = 4,
    target_cell_rows: int = 4096,
) -> DataFrame:
    """IVF + PQ composition (the FAISS IVFADC index shape) — the full
    100 TB ANN recipe in one plan:

    - IVF cells PRUNE: corpus rows carry their nearest coarse cell; a
      query only meets the rows of its ``nprobe`` nearest cells via a
      cell equi-join (never an all-pairs join).
    - PQ codes COMPRESS: within probed cells, candidates are scored by
      ADC table lookups over the 8-byte codes, not the raw vectors.
    - exact rerank of the top ``rerank*k`` shortlist restores recall
      (``rerank=0``: raw ADC ranking, same contract as ``pq_topk``).

    So the big side is scanned once to build (cell, codes) — the compact
    index you would persist bucketed by cell — and the query path touches
    ~nprobe/n_cells of the corpus at m-lookups per candidate, then
    ``queries x rerank*k`` raw vectors. Approximate by design; recall
    pinned in tests.
    """
    n_cells = _resolve_n_cells(corpus, n_cells, target_cell_rows)
    codebooks = pq_codebooks(
        corpus, id_col, vec_col, m=m, ksub=ksub, iterations=iterations
    )
    cents = ivf_coarse_centroids(corpus, id_col, vec_col, n_cells)

    # codes AND cell in the one encode projection — no second corpus scan,
    # no corpus-cardinality self-join
    indexed = pq_encode(
        corpus, codebooks, id_col, vec_col,
        extra={
            "cell": F.array_min(_cell_candidates(F.col(vec_col), cents))[
                "cell"
            ]
        },
    )
    probe = F.explode(
        F.transform(
            F.slice(
                F.array_sort(_cell_candidates(F.col(vec_col), cents)),
                1, nprobe,
            ),
            lambda s: s["cell"],
        )
    )
    q = _adc_query_frame(queries, id_col, vec_col, codebooks, cell_expr=probe)
    scored = (
        indexed.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("pq_dist", F.round(_adc_sum(len(codebooks)), 6))
    )
    return _adc_finish(scored, corpus, queries, id_col, vec_col, k, rerank)


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication by k-means cluster + within-cluster
# cosine ("SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication", Abbas et al. 2023 — see PAPERS.md). The trick that makes
# it web-scale: pairs are compared ONLY inside a k-means cell, so the
# quadratic term is sum(cell^2), bounded by choosing n_cells ~ n/avg_cell,
# and the join is a plain equi-join on cell id — never a cross join.
# ---------------------------------------------------------------------------

def _cell_pairs_numpy(
    assigned: DataFrame,
    threshold: float,
    group_cols: tuple = ("cell",),
) -> DataFrame:
    """Within-cell cosine pairs >= threshold as ONE vectorized gram matrix
    per cell (``applyInPandas``): normalize the cell's vectors, ``Xn @
    Xn.T``, emit the upper triangle above threshold. This is the actual
    SemDeDup formulation — the all-pairs term is bounded per cell by
    construction (``semdedup`` splits oversized cells into sub-buckets
    before this stage, so ``group_cols`` may be (cell, subcell)). The
    previous self-join form scored each candidate pair with interpreted
    ``zip_with``/``aggregate`` lambdas at ~30k pairs/sec; the BLAS gram
    matrix does the same quarter-million pairs in milliseconds.

    The pair schema mirrors the caller's id type (long ids stay long,
    string doc ids stay string — the old hardcoded ``long`` schema broke
    or coerced non-long ids). Zero vectors can never reach ``threshold``
    > 0 (their cosine is defined as 0 here, mirroring the
    null-propagating join form which dropped them on the NULL
    comparison)."""
    import numpy as np
    import pandas as pd

    id_sql_type = assigned.schema["id"].dataType.simpleString()

    def fn(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"id1": [], "id2": []})
        X = np.asarray(list(pdf["vec"]), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        Xn = X / nrm[:, None]
        sims = Xn @ Xn.T
        iu = np.triu_indices(len(pdf), k=1)
        mask = sims[iu] >= threshold
        ids = pdf["id"].to_numpy()
        a = ids[iu[0][mask]]
        b = ids[iu[1][mask]]
        # elementwise min/max works for numeric AND string ids (the
        # keep-min-id convention is "smallest id" under the type's
        # natural order, same as connected_components)
        lo = np.where(a <= b, a, b)
        hi = np.where(a <= b, b, a)
        return pd.DataFrame({"id1": lo, "id2": hi})

    return assigned.groupBy(*group_cols).applyInPandas(
        fn, f"id1 {id_sql_type}, id2 {id_sql_type}"
    )


def semdedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = 16,
    threshold: float = 0.97,
    iterations: int = 2,
    max_cell_rows: int = 50_000,
    target_cell_rows: int = 4096,
) -> DataFrame:
    """Semantic dedup: deterministic Lloyd k-means (reuses the IVF
    trainer), within-cell cosine pairs >= ``threshold``, connected
    components over the pair graph, keep the min-id representative per
    component (the corpus-wide winner convention).

    Plan shape: centroid training is driver-side small state (n_cells x
    dim); cell assignment is one ``transform`` over a folded constant
    (no shuffle); pair generation is ONE shuffle on cell id into a
    per-cell Arrow gram matrix (``_cell_pairs_numpy`` — BLAS, no
    interpreted lambdas); component labeling runs on the (tiny) pair
    set. Returns EVERY corpus row as (id, cell, component, keep) —
    ``keep=false`` rows are the semantic duplicates to drop; singleton
    rows keep themselves; null-vector rows (nothing to compare) come
    back with ``cell=NULL, keep=true``, preserving the partition-of-
    the-corpus contract.

    100-TB guards (both active by default):
    - ``n_cells=None`` auto-scales the cell count to ``max(16,
      n/target_cell_rows)`` from one cheap count, so the plan shape
      does not depend on a caller-tuned constant as the corpus grows.
    - Any cell whose row count exceeds ``max_cell_rows`` is SPLIT into
      ``ceil(count/max_cell_rows)`` sub-buckets by a secondary hash of
      the id before the gram matrix, bounding the O(cell^2) term per
      task no matter how skewed the embedding space is (one hot cell
      can no longer OOM an executor). Cross-sub-bucket pairs inside a
      split cell are foregone — the same recall trade production
      SemDeDup makes when it caps cluster size; the planted-hot-cell
      test pins the surviving recall.
    """
    from .dedup import connected_components

    vec_rows = corpus.filter(F.col(vec_col).isNotNull())
    n_cells = _resolve_n_cells(vec_rows, n_cells, target_cell_rows)
    cents = ivf_kmeans_centroids(
        vec_rows, id_col, vec_col, n_cells, iterations
    )
    assigned = vec_rows.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.array_min(_cell_candidates(F.col(vec_col), cents))["cell"].alias(
            "cell"
        ),
    )
    # oversized-cell split: per-cell counts are n_cells rows (driver-
    # trivial, broadcast); ceil(count/max_cell_rows) sub-buckets, hash
    # of the id picks the bucket so the split is deterministic
    counts = assigned.groupBy("cell").agg(F.count("*").alias("_cell_n"))
    assigned = assigned.join(F.broadcast(counts), "cell").withColumn(
        "subcell",
        F.when(F.col("_cell_n") <= max_cell_rows, F.lit(0)).otherwise(
            F.pmod(
                F.xxhash64(F.col("id").cast("string")),
                F.ceil(F.col("_cell_n") / F.lit(max_cell_rows)),
            )
        ).cast("int"),
    ).drop("_cell_n")
    pairs = _cell_pairs_numpy(
        assigned, threshold, group_cols=("cell", "subcell")
    )
    comp = connected_components(pairs).withColumnRenamed("node", "cid")
    labeled = (
        assigned.select("id", "cell")
        .join(comp, F.col("id") == F.col("cid"), "left")
        .select(
            "id",
            "cell",
            F.coalesce("component", F.col("id")).alias("component"),
            (F.coalesce("component", F.col("id")) == F.col("id")).alias(
                "keep"
            ),
        )
    )
    # null-vector rows: no cell, no comparisons, always kept
    null_rows = corpus.filter(F.col(vec_col).isNull()).select(
        F.col(id_col).alias("id"),
        F.lit(None).cast("int").alias("cell"),
        F.col(id_col).alias("component"),
        F.lit(True).alias("keep"),
    )
    return labeled.unionByName(null_rows)


def _maxmin_seed_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    sample_rows: int = 2048,
):
    """Deterministic farthest-point (maxmin / k-means++-style) seeds on a
    BOUNDED driver sample — the standard quantizer-training shape (FAISS
    trains IVF on a sample, not the corpus). The md5 sample
    (``ivf_coarse_centroids``'s init) can drop two seeds into one true
    cluster and none into another; Lloyd cannot recover from that local
    minimum. Maxmin picks each next seed as the sample vector with the
    LARGEST cosine distance to its nearest already-chosen seed, so
    well-separated clusters each get a seed.

    Driver state: ``max(sample_rows, n_cells)`` x dim floats (documented
    in README's driver-state budget next to the 256-vector PQ sample).
    Fully deterministic: sample by smallest (md5(id), id), numpy argmax
    breaks ties by first index. Returns [(cell_idx, vector)] with ids
    0..n-1 as ``_cell_candidates`` requires."""
    import numpy as np

    take = max(sample_rows, n_cells)
    rows = (
        corpus.select(
            F.col(vec_col),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
            F.col(id_col).cast("string").alias("_i"),
        )
        .orderBy("_h", "_i")
        .limit(take)
        .collect()
    )
    if not rows:
        return []
    x = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    norms[norms == 0.0] = 1.0
    unit = x / norms[:, None]
    k = min(n_cells, len(rows))
    chosen = [0]
    # min over chosen seeds of cosine distance (1 - cos) per sample row
    d = 1.0 - unit @ unit[0]
    for _ in range(1, k):
        nxt = int(np.argmax(d))
        chosen.append(nxt)
        d = np.minimum(d, 1.0 - unit @ unit[nxt])
    return [(i, [float(v) for v in x[c]]) for i, c in enumerate(chosen)]


def kmeans_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters=None,
    iterations: int = 4,
    init: str = "maxmin",
) -> DataFrame:
    """Embedding-space document clustering — Lloyd k-means surfaced as a
    first-class operator (topic bucketing, mixture construction, and the
    cell structure semdedup/IVF consume are all this assignment).

    Reuses the IVF quantizer machinery end-to-end: deterministic seeding
    with no RNG state (``init="maxmin"``: farthest-point on a bounded
    driver sample, recovers well-separated planted clusters;
    ``init="md5"``: the cheaper hash sample IVF uses, where quantizer
    quality only moves recall), ``iterations`` Lloyd rounds where each
    round is ONE map-side nearest-centroid assignment plus one
    (cell, dim)-keyed aggregate (``ivf_kmeans_centroids``), centroids
    held as a folded constant (``_nested_lit``) — bounded driver state,
    n_clusters x dim. ``n_clusters=None`` auto-scales with corpus size
    via ``_resolve_n_cells`` (the 100-TB rule: cell count grows with N).

    Returns (id, cluster, cos_to_centroid) — the per-vector assignment
    plus its cosine to the owning centroid (the quantization-quality
    number an inertia/elbow report aggregates). Iterative + float means:
    rows-only checked; planted-cluster separation is pinned in tests.
    """
    n_clusters = _resolve_n_cells(corpus, n_clusters)
    if init == "maxmin":
        seeds = _maxmin_seed_centroids(
            corpus, id_col, vec_col, n_clusters
        )
        cents = ivf_kmeans_centroids(
            corpus, id_col, vec_col, n_clusters, iterations, seeds=seeds
        )
    elif init == "md5":
        cents = ivf_kmeans_centroids(
            corpus, id_col, vec_col, n_clusters, iterations
        )
    else:
        raise ValueError(f"init must be 'maxmin' or 'md5', got {init!r}")
    best = F.array_min(_cell_candidates(F.col(vec_col), cents))
    return corpus.select(
        F.col(id_col),
        best["cell"].alias("cluster"),
        (
            -best["neg_cos"] / _norm(F.col(vec_col))
        ).alias("cos_to_centroid"),
    )


def embedding_covariance(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sample covariance matrix of an embedding column, upper triangle —
    the summary statistic behind whitening/PCA/OPQ and embedding-drift
    monitoring.

    Scale shape: ``mapInPandas`` emits per-Arrow-batch PARTIAL sufficient
    statistics (BLAS gram ``X^T X`` upper triangle, per-dim sums, row
    count) — dim*(dim+1)/2 + dim + 1 rows per batch regardless of batch
    size — and one map-combinable groupBy folds them. The shuffle carries
    O(dim^2) keys, never O(n); no row leaves its partition. This is the
    one-pass distributed-covariance pattern (Welford-style partials,
    merged exactly since the partials are plain sums).

    Returns (d1, d2, cov) for 0 <= d1 <= d2 < dim with
    cov = (sum_xy - sum_x*sum_y/n) / (n-1) in float64. Cross-engine
    float-sum order differs in ulps — callers that hash values should
    floor-quantize (q_embed_covariance uses 1e-6).
    """
    vc = vec_col

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vecs = [v for v in pdf[vc] if v is not None]
            if not vecs:
                continue
            x = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs]
            )
            dim = x.shape[1]
            g = x.T @ x
            iu = np.triu_indices(dim)
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"d1": iu[0], "d2": iu[1], "s": g[iu]}
                    ),
                    pd.DataFrame(
                        {
                            "d1": np.arange(dim),
                            "d2": -1,
                            "s": x.sum(axis=0),
                        }
                    ),
                    pd.DataFrame(
                        {"d1": [-1], "d2": [-1], "s": [float(len(x))]}
                    ),
                ],
                ignore_index=True,
            )

    parts = corpus.select(vc).mapInPandas(gram, "d1 int, d2 int, s double")
    # three consumers (count / means / gram) branch off this dim^2-row
    # aggregate — persist it so the corpus scan + BLAS pass runs ONCE,
    # not once per branch. Registered for dedup.release() like the other
    # pair-table caches (the bench releases per query).
    tot = parts.groupBy("d1", "d2").agg(F.sum("s").alias("s")).persist()
    n = tot.filter(F.col("d1") == -1).select(F.col("s").alias("n"))
    means = tot.filter((F.col("d2") == -1) & (F.col("d1") >= 0))
    gram_sums = tot.filter(F.col("d2") >= 0)
    out = (
        gram_sums.join(
            F.broadcast(
                means.select(
                    F.col("d1").alias("_m1"), F.col("s").alias("sx1")
                )
            ),
            F.col("d1") == F.col("_m1"),
        )
        .join(
            F.broadcast(
                means.select(
                    F.col("d1").alias("_m2"), F.col("s").alias("sx2")
                )
            ),
            F.col("d2") == F.col("_m2"),
        )
        .crossJoin(F.broadcast(n))
        .select(
            "d1",
            "d2",
            (
                (F.col("s") - F.col("sx1") * F.col("sx2") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("cov"),
        )
    )
    out._spark_graft_cached = [tot]  # dedup.release() contract
    return out


def pca_whiten(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 1e-9,
) -> DataFrame:
    """PCA-whitening of an embedding column: y = Lambda^(-1/2) V^T (x - mu)
    — the standard preprocessing before PQ/OPQ codebook training and
    cosine-drift analysis (decorrelates dims, unit variance each).

    The covariance and mean come from ``embedding_covariance``'s
    distributed one-pass partials; only the dim x dim matrix and the
    dim-vector reach the driver (bounded state, README budget table),
    where numpy ``eigh`` factorizes it. The projection ships back as ONE
    folded nested constant (``_nested_lit``) and applies as pure JVM
    builtins — an O(dim^2) expression per row inside whole-stage codegen,
    no Python in the row path.

    Returns (id_col, whitened array<double>). Eigenvalues below ``eps``
    are clamped (degenerate dims project to ~0 instead of exploding).
    Pinned in tests: whitened sample covariance == identity."""
    import math

    import numpy as np

    cov_df = embedding_covariance(corpus, id_col, vec_col)
    cov_rows = cov_df.collect()
    for dep in getattr(cov_df, "_spark_graft_cached", []):
        dep.unpersist()
    if not cov_rows:
        raise ValueError(
            "pca_whiten: empty corpus or all-null vector column "
            f"{vec_col!r} — covariance is undefined"
        )
    dim = max(r["d2"] for r in cov_rows) + 1
    c = np.zeros((dim, dim))
    for r in cov_rows:
        c[r["d1"], r["d2"]] = r["cov"]
        c[r["d2"], r["d1"]] = r["cov"]
    mu_rows = (
        corpus.select(F.posexplode(F.col(vec_col)).alias("d", "x"))
        .groupBy("d")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .collect()
    )
    mu = [0.0] * dim
    for r in mu_rows:
        mu[r["d"]] = r["m"]
    evals, vecs = np.linalg.eigh(c)
    scale = 1.0 / np.sqrt(np.maximum(evals, eps))
    w = vecs * scale  # column i = v_i / sqrt(lambda_i)
    # row r of the shipped constant = component r's projection vector
    w_rows = _nested_lit([[float(v) for v in w[:, i]] for i in range(dim)])
    mu_lit = F.from_json(
        F.lit(__import__("json").dumps([float(m) for m in mu])),
        "array<double>",
    )
    centered = F.zip_with(
        F.col(vec_col), mu_lit, lambda a, b: a.cast("double") - b
    )
    return corpus.select(
        F.col(id_col),
        F.transform(w_rows, lambda wr: _dot(centered, wr)).alias(
            "whitened"
        ),
    )


def scalar_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column — the
    4x compression every production vector store applies before ANN
    (max-abs scaling: ``scale = max|v|/127``, ``code = round(v/scale)``,
    codes exactly representable in int8 with no clamp because max|v/scale|
    is exactly 127). Emits per vector: ``dims``, floor-9dp ``scale_q``,
    the BIGINT ``sum_codes`` (a cheap exact checksum of the whole code
    array), and floor-9dp ``max_abs_err`` — the reconstruction-error
    report that tells you whether the corpus tolerates int8 before you
    re-encode 100 TB. Zero vectors quantize to all-zero codes with
    scale 0, not NaN.

    Map-only JVM higher-order functions; rounding is ``floor(x + 0.5)``
    (NOT round()) so Spark and the SQL oracle agree on .5 boundaries.
    Order-independent reductions only (max over the array; integer sum),
    per the exact-emitter rule.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = df.select(
        F.col(id_col).alias("vec_id"),
        v.alias("v"),
        amax.alias("amax"),
    )
    scale = F.col("amax") / F.lit(127.0)
    code = lambda x: F.floor(x / scale + F.lit(0.5))  # noqa: E731
    err = F.array_max(
        F.transform(F.col("v"), lambda x: F.abs(x - code(x) * scale))
    )
    sum_codes = F.aggregate(
        F.transform(F.col("v"), lambda x: code(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    live = F.col("amax") > 0
    return base.select(
        "vec_id",
        F.size("v").cast("int").alias("dims"),
        F.when(live, F.floor(scale * F.lit(1e9)) / F.lit(1e9))
        .otherwise(F.lit(0.0))
        .alias("scale_q"),
        F.when(live, sum_codes).otherwise(F.lit(0).cast("long"))
        .alias("sum_codes"),
        F.when(live, F.floor(err * F.lit(1e9)) / F.lit(1e9))
        .otherwise(F.lit(0.0))
        .alias("max_abs_err"),
    )


def mutual_nn_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Mutual nearest-neighbor matching between two embedding sets —
    the bitext-mining / cross-corpus alignment primitive (LASER-style
    parallel-pair candidates, modality alignment): a pair survives only
    if each side is the OTHER side's cosine top-1, the standard filter
    that kills hub vectors matching everything.

    ``candidates=None`` (exact baseline, see README "Exact baselines vs
    production paths"): built entirely from [[cosine_topk]] (two
    directed top-1 passes + one equi-join on the agreeing pair), so the
    score convention — round-6dp cosine, ties by neighbor id — is
    inherited and already oracle-proven. Each directed pass broadcasts
    its query side, so BOTH sets must individually fit the broadcast
    budget: fixture-scale only.

    ``candidates`` (the 100-TB path): a DataFrame with ``left_id`` /
    ``right_id`` columns — typically ``ivf_topk(right, left, k=K)`` or
    ``lsh_bucket_topk`` output renamed (query_id→left_id,
    neighbor_id→right_id), K a small multiple of 1 for headroom. Pairs
    are re-scored EXACTLY by two id-keyed equi-joins that fetch each
    side's vector (shuffle joins — nothing broadcasts a full corpus),
    then each side's top-1 WITHIN the candidate graph is taken and the
    mutual filter applied: two window ranks + one filter, all keyed by
    id. Cost is O(|candidates|), never |left|x|right|; recall vs the
    exact path is pinned in tests (planted-hub case included — a hub
    can win many left-side top-1s but only ever forms ONE mutual pair,
    in either path). Returns (left_id, right_id, cos_sim).
    """
    if candidates is None:
        l2r = cosine_topk(right, left, id_col, vec_col, k=1).select(
            F.col("query_id").alias("left_id"),
            F.col("neighbor_id").alias("right_id"),
            "cos_sim",
        )
        r2l = cosine_topk(left, right, id_col, vec_col, k=1).select(
            F.col("neighbor_id").alias("left_id"),
            F.col("query_id").alias("right_id"),
        )
        return l2r.join(r2l, ["left_id", "right_id"])
    l = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("lvec"),
        _norm(F.col(vec_col)).alias("ln"),
    )
    r = right.select(
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("rvec"),
        _norm(F.col(vec_col)).alias("rn"),
    )
    scored = (
        candidates.select("left_id", "right_id")
        .dropDuplicates(["left_id", "right_id"])
        .join(l, "left_id")
        .join(r, "right_id")
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("lvec"), F.col("rvec"))
                / (F.col("ln") * F.col("rn")),
                6,
            ),
        )
        .select("left_id", "right_id", "cos_sim")
    )
    wl = Window.partitionBy("left_id").orderBy(
        F.col("cos_sim").desc(), F.col("right_id").asc()
    )
    wr = Window.partitionBy("right_id").orderBy(
        F.col("cos_sim").desc(), F.col("left_id").asc()
    )
    return (
        scored.withColumn("rl", F.row_number().over(wl))
        .withColumn("rr", F.row_number().over(wr))
        .filter((F.col("rl") == 1) & (F.col("rr") == 1))
        .select("left_id", "right_id", "cos_sim")
    )


def margin_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Ratio-margin bitext mining (Artetxe & Schwenk 2019): score each
    candidate pair by its cosine RELATIVE to what both endpoints score
    against their other neighbors —

        margin(l, r) = cos(l, r) / ((mean_k(l) + mean_k(r)) / 2)

    where mean_k(x) is the mean cosine of x's top-k cross-side
    neighbors. Absolute-cosine thresholds break under hubness (some
    vectors are close to everything); the margin normalizes it away and
    is the standard mined-parallel-corpus scorer. Returns each left
    vector's best right match by margin: (left_id, right_id, cos_sim,
    margin), margin rounded to 4 (ranking uses the ROUNDED margin with
    neighbor-id tie-break so the order is engine-independent).

    ``candidates=None`` (exact baseline, see README "Exact baselines vs
    production paths"): both directed candidate graphs come from
    [[cosine_topk]] (round-6dp cosine, id tie-break — the proven score
    convention), inheriting its broadcast-query contract: fixture scale
    only. ``candidates`` (the 100-TB path): a (left_id, right_id) frame
    from ``ivf_topk``/``lsh_bucket_topk``; pairs are re-scored exactly
    via two id-keyed equi-joins (nothing broadcasts a corpus) and the
    top-k means are taken WITHIN the candidate graph — the same
    candidate-fed shape as [[mutual_nn_pairs]], cost O(|candidates|).

    The per-node means are k-bounded aggregates (one row per node —
    corpus-sized at 100 TB, so they join back by id equi-join, NOT by
    broadcast; AQE may still broadcast them at fixture scale). The
    corpus-sized tables never shuffle more than the candidate graph
    itself."""
    if candidates is None:
        l2r = cosine_topk(right, left, id_col, vec_col, k=k).select(
            F.col("query_id").alias("left_id"),
            F.col("neighbor_id").alias("right_id"),
            "cos_sim",
        )
        r2l = cosine_topk(left, right, id_col, vec_col, k=k).select(
            F.col("query_id").alias("right_id"),
            F.col("neighbor_id").alias("left_id"),
            "cos_sim",
        )
    else:
        l = left.select(
            F.col(id_col).alias("left_id"),
            F.col(vec_col).alias("lvec"),
            _norm(F.col(vec_col)).alias("ln"),
        )
        r = right.select(
            F.col(id_col).alias("right_id"),
            F.col(vec_col).alias("rvec"),
            _norm(F.col(vec_col)).alias("rn"),
        )
        scored = (
            candidates.select("left_id", "right_id")
            .dropDuplicates(["left_id", "right_id"])
            .join(l, "left_id")
            .join(r, "right_id")
            .withColumn(
                "cos_sim",
                F.round(
                    _dot(F.col("lvec"), F.col("rvec"))
                    / (F.col("ln") * F.col("rn")),
                    6,
                ),
            )
            .select("left_id", "right_id", "cos_sim")
        )
        wl = Window.partitionBy("left_id").orderBy(
            F.col("cos_sim").desc(), F.col("right_id").asc()
        )
        wr = Window.partitionBy("right_id").orderBy(
            F.col("cos_sim").desc(), F.col("left_id").asc()
        )
        l2r = (
            scored.withColumn("rk", F.row_number().over(wl))
            .filter(F.col("rk") <= k)
            .drop("rk")
        )
        r2l = (
            scored.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= k)
            .drop("rk")
        )
    lmean = l2r.groupBy("left_id").agg(F.avg("cos_sim").alias("lm"))
    rmean = r2l.groupBy("right_id").agg(F.avg("cos_sim").alias("rm"))
    margined = (
        l2r.join(lmean, "left_id")
        .join(rmean, "right_id")
        .withColumn(
            "margin",
            F.round(
                F.col("cos_sim") / ((F.col("lm") + F.col("rm")) / 2.0), 4
            ),
        )
    )
    best = Window.partitionBy("left_id").orderBy(
        F.col("margin").desc(), F.col("right_id").asc()
    )
    return (
        margined.withColumn("rk", F.row_number().over(best))
        .filter(F.col("rk") == 1)
        .select("left_id", "right_id", "cos_sim", "margin")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: each query's
    top-k most-similar corpus items with a DIFFERENT label — the
    negatives that actually teach the margin, versus
    [[curate.negative_sample]]'s uniform draws. The label filter sits
    below the rank window, so positives can never crowd out the top-k.

    ``candidates=None`` (exact baseline, see README "Exact baselines vs
    production paths"): same exact-cosine scoring and broadcast
    contract as [[cosine_topk]] — the query set must fit the broadcast
    budget; fixture-scale only.

    ``candidates`` (the 100-TB path): a DataFrame with ``query_id`` /
    ``neg_id`` columns — typically ``ivf_topk(corpus, queries,
    k=k_cand)`` or ``lsh_bucket_topk`` output with neighbor_id renamed
    to neg_id. Because the label filter runs AFTER candidate
    generation, ``k_cand`` needs headroom over ``k`` (3-5x is the usual
    rule: same-label candidates are discarded). Vectors and labels are
    fetched by id-keyed equi-joins (shuffle joins — no broadcast of
    either full side), scored exactly, filtered, ranked: cost
    O(|candidates|). Recall vs the exact path pinned in tests. Returns
    (query_id, neg_id, rank, cos_sim)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(label_col).alias("qlab"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("cvec"),
        F.col(label_col).alias("clab"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    if candidates is None:
        paired = c.crossJoin(F.broadcast(q))
    else:
        paired = (
            candidates.select("query_id", "neg_id")
            .dropDuplicates(["query_id", "neg_id"])
            .join(q, "query_id")
            .join(c, "neg_id")
        )
    scored = paired.filter(
        (F.col("neg_id") != F.col("query_id"))
        & (F.col("clab") != F.col("qlab"))
    ).withColumn(
        "cos_sim",
        F.round(
            _dot(F.col("qvec"), F.col("cvec"))
            / (F.col("qn") * F.col("cn")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neg_id", "rank", "cos_sim")
    )


def jl_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    quantize: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC
    {-1,+1} sign matrix — the dimensionality reducer that preserves
    pairwise distances within (1±eps) at out_dim = O(log n / eps^2):
    the cheap front-end for clustering / dedup / ANN when the raw
    embedding is wide (Achlioptas' database-friendly variant, signs
    instead of Gaussians). Emitted LONG format (id, dim_j, proj_q),
    one row per output dimension.

    The sign for input dim i, output dim j is an arithmetic hash both
    engines compute identically in BIGINT: parity of
    (i*73856093 + j*19349663 + i*j*83492791) mod 1000003 — the i*j
    cross term breaks the linear-parity degeneracy a plain linear hash
    would have; no RNG state, no seed table to ship, any executor can
    recompute any entry (the property that makes the projection
    restartable and oracle-checkable).

    EXACT cross-engine: inputs are integer-quantized (round(v*10^q)),
    signs are ±1, proj_q is a BIGINT sum — no float accumulation at
    all. Plan: MAP-ONLY — per-row array fold per output dim, then one
    posexplode; no shuffle, no UDF, whole-stage codegen end to end.
    """
    vec = F.col(vec_col)

    def _sign(i, j):
        h = (
            i.cast("long") * F.lit(73856093)
            + F.lit(j * 19349663)
            + i.cast("long") * F.lit(j * 83492791)
        ) % F.lit(1000003)
        return F.when(h % 2 == 0, F.lit(1)).otherwise(F.lit(-1))

    def _proj(j):
        return F.aggregate(
            F.transform(
                vec,
                lambda x, i: F.round(
                    x.cast("double") * F.lit(10**quantize), 0
                ).cast("long")
                * _sign(i, j),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    arr = F.array(*[_proj(j) for j in range(out_dim)])
    return df.select(
        F.col(id_col), F.posexplode(arr).alias("dim_j", "proj_q")
    )


def procrustes_align(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Orthogonal Procrustes alignment of a NEW embedding snapshot onto
    an OLD one — the model-migration tool: after an embedding model
    upgrade, solve R = argmin ||X_new R - X_old||_F over rotations on
    the shared ids, then re-index with aligned vectors instead of
    re-embedding (or measure how much of the space actually moved).
    R = U V^T from the SVD of the cross-gram M = X_new^T X_old
    (Schönemann's closed form).

    Scale shape ([[embedding_covariance]]'s pattern): the join on id is
    the only row-scale shuffle; ``mapInPandas`` emits per-Arrow-batch
    PARTIAL cross-grams (d x d rows per batch via one BLAS matmul,
    independent of batch size), one combinable groupBy folds them, and
    only the d x d matrix reaches the driver (README budget table)
    where numpy SVDs it. R ships back as ONE folded constant; the
    per-row application is JVM higher-order functions in codegen.

    Returns (id, aligned array<double>, resid — the float64 L2 gap to
    the old vector after alignment; floor-quantize before hashing).
    Raises on empty overlap. Rows-only by design (float SVD): tests
    pin rotation recovery (planted orthogonal Q -> resid ~ 0) and
    R^T R = I.
    """
    import numpy as np

    j = old_df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__old")
    ).join(
        new_df.select(
            F.col(id_col).alias("__id"), F.col(vec_col).alias("__new")
        ),
        "__id",
    )

    def cross(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = [
                (o, n)
                for o, n in zip(pdf["__old"], pdf["__new"])
                if o is not None and n is not None
            ]
            if not rows:
                continue
            xo = np.asarray(
                [np.asarray(o, dtype=np.float64) for o, _ in rows]
            )
            xn = np.asarray(
                [np.asarray(n, dtype=np.float64) for _, n in rows]
            )
            m = xn.T @ xo
            d1, d2 = np.indices(m.shape)
            yield pd.DataFrame(
                {
                    "d1": d1.ravel(),
                    "d2": d2.ravel(),
                    "s": m.ravel(),
                }
            )

    m_rows = (
        j.mapInPandas(cross, "d1 int, d2 int, s double")
        .groupBy("d1", "d2")
        .agg(F.sum("s").alias("s"))
        .collect()
    )
    if not m_rows:
        raise ValueError(
            "procrustes_align: no overlapping ids with non-null vectors"
        )
    dim = max(r["d1"] for r in m_rows) + 1
    dim2 = max(r["d2"] for r in m_rows) + 1
    m = np.zeros((dim, dim2))
    for r in m_rows:
        m[r["d1"], r["d2"]] = r["s"]
    u, _, vt = np.linalg.svd(m)
    r_mat = u @ vt  # dim_new x dim_old
    r_cols = _nested_lit(
        [[float(r_mat[i, k]) for i in range(dim)] for k in range(dim2)]
    )
    aligned = F.transform(
        r_cols, lambda c: _dot(F.col("__new"), c)
    )
    diff = F.zip_with(
        aligned, F.col("__old"), lambda a, b: a - b.cast("double")
    )
    resid = F.sqrt(
        F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return j.select(
        F.col("__id").alias(id_col),
        aligned.alias("aligned"),
        resid.alias("resid"),
    )


def linear_cka(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Linear CKA between two ROW-ALIGNED integer-quantized embedding
    columns — the representation-similarity number (Kornblith et al.)
    for "how much geometry did the new encoder / quantizer / drift
    keep": CKA = ||Yc'Xc||_F^2 / (||Xc'Xc||_F ||Yc'Yc||_F), invariant
    to rotation and isotropic scale, 1 = same shape.

    Inputs are ``array<long>`` (quantize BEFORE calling — integer
    components make every gram sum a BIGINT, the exactness contract).
    Scale shape: [[embedding_covariance]]'s one-pass partial-gram
    pattern — ``mapInPandas`` stacks z = [x, y] and emits the int64
    upper-triangle gram + sums + count per Arrow batch (O(dim^2) rows
    per batch, never O(n)), one combinable groupBy folds them. The
    three centered Frobenius sums then accumulate in fixed (d1, d2)
    order over the <= (2d)^2-row cell table (stepped windows).
    Returns one row (n, dim, cka_q6).
    """
    xc, yc = x_col, y_col

    def gram(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            pairs = [
                (x, y)
                for x, y in zip(pdf[xc], pdf[yc])
                if x is not None and y is not None
            ]
            if not pairs:
                continue
            z = np.asarray(
                [
                    np.concatenate(
                        [
                            np.asarray(x, dtype=np.int64),
                            np.asarray(y, dtype=np.int64),
                        ]
                    )
                    for x, y in pairs
                ]
            )
            g = z.T @ z
            iu = np.triu_indices(z.shape[1])
            yield pd.concat(
                [
                    pd.DataFrame(
                        {"d1": iu[0], "d2": iu[1], "s": g[iu]}
                    ),
                    pd.DataFrame(
                        {
                            "d1": np.arange(z.shape[1]),
                            "d2": -1,
                            "s": z.sum(axis=0),
                        }
                    ),
                    pd.DataFrame({"d1": [-1], "d2": [-1], "s": [len(z)]}),
                ],
                ignore_index=True,
            )

    parts = df.select(xc, yc).mapInPandas(
        gram, "d1 int, d2 int, s long"
    )
    folded = parts.groupBy("d1", "d2").agg(
        F.sum("s").cast("long").alias("s")
    ).persist()
    n_row = folded.filter(
        (F.col("d1") == -1) & (F.col("d2") == -1)
    ).select(F.col("s").alias("__n"))
    sums = folded.filter(
        (F.col("d2") == -1) & (F.col("d1") >= 0)
    ).select(F.col("d1").alias("__i"), F.col("s").alias("__su"))
    dims = sums.agg(
        (((F.max("__i") + 1) / 2).cast("long")).alias("__dx")
    )
    cells = (
        folded.filter(F.col("d2") >= 0)
        .join(
            F.broadcast(
                sums.select(
                    F.col("__i").alias("d1"), F.col("__su").alias("__s1")
                )
            ),
            "d1",
        )
        .join(
            F.broadcast(
                sums.select(
                    F.col("__i").alias("d2"), F.col("__su").alias("__s2")
                )
            ),
            "d2",
        )
        .crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(dims))
    )
    nd = F.col("__n").cast("double")
    a = (
        F.col("s").cast("double")
        - F.col("__s1").cast("double")
        * F.col("__s2").cast("double")
        / nd
    )
    dx = F.col("__dx")
    blk = (
        F.when((F.col("d1") < dx) & (F.col("d2") < dx), F.lit("xx"))
        .when(F.col("d1") >= dx, F.lit("yy"))
        .otherwise(F.lit("xy"))
    )
    w = F.when(
        (F.col("d1") == F.col("d2"))
        | ((F.col("d1") < dx) != (F.col("d2") < dx)),
        F.lit(1.0),
    ).otherwise(F.lit(2.0))
    cent = cells.select(
        "d1",
        "d2",
        "__n",
        "__dx",
        blk.alias("__blk"),
        (w * (a * a)).alias("__term"),
    )
    ordw = Window.partitionBy("__blk").orderBy("d1", "d2").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.partitionBy("__blk")
    stepped = cent.select(
        "__n",
        "__dx",
        "__blk",
        F.sum("__term").over(ordw).alias("__f"),
        F.row_number()
        .over(Window.partitionBy("__blk").orderBy("d1", "d2"))
        .alias("__rn"),
        F.count("*").over(wfull).alias("__k"),
    )
    fr = (
        stepped.filter(F.col("__rn") == F.col("__k"))
        .groupBy("__n", "__dx")
        .pivot("__blk", ["xx", "xy", "yy"])
        .agg(F.first("__f"))
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    out = fr.select(
        F.col("__n").alias("n"),
        F.col("__dx").alias("dim"),
        F.when(
            (F.col("xx") > 0) & (F.col("yy") > 0),
            q6(
                F.col("xy")
                / (F.sqrt(F.col("xx")) * F.sqrt(F.col("yy")))
            ),
        ).alias("cka_q6"),
    )
    out._spark_graft_cached = [folded]
    return out


def hubness_profile(
    ranked: DataFrame,
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Hubness profile of a kNN result table: the k-occurrence
    distribution (how many query lists each point appears in) and its
    skewness — THE high-dimensional pathology probe for embedding
    spaces. Skewed k-occurrence means a few "hub" points crowd
    everyone's neighbor lists, which silently corrupts [[semdedup]]
    cells, [[mutual_nn_pairs]] matching and any kNN-graph clustering;
    run this before trusting neighbors at a new dim/model.

    In-degrees are integer counts; mean/sd/skewness (Fisher g1, the
    biased moment form) come from three BIGINT moment sums — one
    fixed float expression each. Plan: one neighbor-key count + one
    scalar aggregate over the occurrence table. Returns one row
    (n_points, k_total, mean_occ_q6, skew_q6, max_occ).
    """
    occ = ranked.groupBy(F.col(neighbor_col).alias("__nb")).agg(
        F.count("*").cast("long").alias("__c")
    )
    agg = occ.agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("__c").cast("long").alias("k_total"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__s2"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c"))
        .cast("long")
        .alias("__s3"),
        F.max("__c").cast("long").alias("max_occ"),
    )
    n = F.col("n_points").cast("double")
    m1 = F.col("k_total").cast("double") / n
    m2 = F.col("__s2").cast("double") / n - m1 * m1
    m3 = (
        F.col("__s3").cast("double") / n
        - F.lit(3.0) * m1 * (F.col("__s2").cast("double") / n)
        + F.lit(2.0) * m1 * m1 * m1
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_points",
        "k_total",
        q6(m1).alias("mean_occ_q6"),
        F.when(
            m2 > 0, q6(m3 / (F.sqrt(m2) * m2))
        ).alias("skew_q6"),
        "max_occ",
    )


def embedding_isotropy(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: int = 4,
) -> DataFrame:
    """Anisotropy of an embedding set — the fraction of the vectors'
    energy living in one common direction, the Ethayarajh-style
    collapse diagnostic: near 0 the space is isotropic (directions
    carry information), near 1 every vector points the same way and
    cosine similarity stops meaning anything. Run it BEFORE trusting
    any cosine-based dedup/ANN threshold on a new embedding source.

    The all-pairs mean dot product is computed WITHOUT pairs via the
    sum-vector identity sum_{i != j} v_i . v_j = ||S||^2 - sum_i
    ||v_i||^2 (S = sum of all vectors) — the textbook example of an
    O(N^2) statistic with an O(N * dim) one-pass form, and the shape
    this engine prefers everywhere: never emit a pair table for an
    algebraic reduction. INTEGER-EXACT: components quantized to the
    10^-quantize grid, so the per-dim sums S_d, the total squared
    norm Q and P = sum_d S_d^2 are BIGINT/DECIMAL(38,0) and the only
    floats are two terminal divisions. Plan: one posexplode shuffle
    keyed by dim (dim-bounded), one scalar aggregate. Returns one row
    (n, dim, mean_dot_q6, mean_sq_norm_q6, anisotropy_q6) in ORIGINAL
    value units, n counting the non-null, non-empty vectors; anisotropy
    = mean pairwise dot / mean squared norm, null when n < 2 or Q = 0.
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    qv = F.round(
        F.col("x").cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    e = corpus.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("d", "x")
    ).select("d", qv.alias("__q"))
    dims = e.groupBy("d").agg(F.sum("__q").cast("long").alias("__s"))
    p = dims.agg(
        F.sum(dec(F.col("__s")) * dec(F.col("__s"))).alias("__p"),
        F.count("*").cast("long").alias("dim"),
    )
    qq = e.agg(
        F.sum(dec(F.col("__q")) * dec(F.col("__q"))).alias("__qq")
    )
    # n counts the vectors that contribute components: a NULL or empty
    # embedding would otherwise deflate every mean
    nrow = corpus.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).agg(F.count("*").cast("long").alias("n"))
    j = nrow.crossJoin(F.broadcast(p)).crossJoin(F.broadcast(qq))
    scale2 = float(10 ** quantize) ** 2
    n = F.col("n").cast("double")
    pd_ = F.col("__p").cast("double")
    qd = F.col("__qq").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("n") > 1) & (qd > 0)
    return j.select(
        "n",
        "dim",
        F.when(
            F.col("n") > 1,
            q6(
                (pd_ - qd)
                / (n * (n - F.lit(1.0)))
                / F.lit(scale2)
            ),
        ).alias("mean_dot_q6"),
        F.when(
            F.col("n") > 0, q6(qd / n / F.lit(scale2))
        ).alias("mean_sq_norm_q6"),
        F.when(
            ok, q6((pd_ - qd) / ((n - F.lit(1.0)) * qd))
        ).alias("anisotropy_q6"),
    )


def embedding_effective_rank(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Participation ratio of the embedding covariance spectrum —
    PR = trace(C)^2 / ||C||_F^2 = (sum lambda)^2 / sum lambda^2, the
    "how many directions actually carry the variance" number in
    [1, dim], computed WITHOUT an eigendecomposition: trace and the
    Frobenius norm read straight off [[embedding_covariance]]'s
    upper-triangle table (sum lambda = sum of diagonal entries,
    sum lambda^2 = sum of ALL squared entries). The dimensional-
    collapse gate next to [[embedding_isotropy]]: a 768-dim space
    with PR 12 is a 12-dimensional space wearing a trench coat, and
    every cosine threshold tuned elsewhere is off.

    Determinism: covariance entries are floor-quantized to the 1e-6
    grid FIRST (the same grid the q_embed_covariance oracle pins
    cross-engine), so trace is BIGINT, Frobenius DECIMAL(38,0), and
    PR one terminal float ratio. Plan: embedding_covariance's
    O(dim^2)-key fold plus one scalar aggregate. Returns one row
    (dim, trace_q6, pr_q6, pr_share_q6); null when the trace is 0.
    """
    ec = embedding_covariance(corpus, id_col, vec_col)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    qv = F.floor(F.col("cov") * F.lit(1e6)).cast("long")
    cells = ec.select("d1", "d2", qv.alias("__q"))
    diag = F.col("d1") == F.col("d2")
    agg = cells.agg(
        (F.max("d2") + 1).cast("long").alias("dim"),
        F.sum(F.when(diag, F.col("__q")).otherwise(F.lit(0)))
        .cast("long")
        .alias("__tr"),
        F.sum(
            F.when(diag, dec(F.col("__q")) * dec(F.col("__q"))).otherwise(
                F.lit(2).cast("decimal(38,0)")
                * dec(F.col("__q"))
                * dec(F.col("__q"))
            )
        ).alias("__fr"),
    )
    tr = F.col("__tr").cast("double")
    fr = F.col("__fr").cast("double")
    pr = tr * tr / fr
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    ok = (F.col("__tr") > 0) & (fr > 0)
    return agg.select(
        "dim",
        q6(tr / F.lit(1e6)).alias("trace_q6"),
        F.when(ok, q6(pr)).alias("pr_q6"),
        F.when(
            ok, q6(pr / F.col("dim").cast("double"))
        ).alias("pr_share_q6"),
    )
