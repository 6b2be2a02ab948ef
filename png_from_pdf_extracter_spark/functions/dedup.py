"""Deduplication family for training-data pipelines, as relational plans.

Everything is expressed with explode/groupBy/join builtins so Catalyst owns
the physical strategy, and every hash is the cross-engine-stable
``bigint(md5[:15 hex])`` so the DuckDB oracle can verify values exactly.

Scale notes:
- exact/fingerprint dedup: one shuffle on the hash key, map-side partial agg.
- n-gram Jaccard: the shingle self-join explodes on frequent shingles; at
  100 TB you cap it by dropping shingles above a document-frequency ceiling
  (``max_shingle_df``) — standard candidate-pruning, on by default.
- MinHash+LSH: signatures are one groupBy over (doc, seed); candidate pairs
  come from equi-joins on (band, band_hash) buckets, never a cross join.
- SimHash: pure per-document aggregation (explode tokens x 32 bit positions,
  two groupBys), then self-join on the 16-bit band keys for candidates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .text import tokens, words

# cross-engine-stable 60-bit hash: bigint of the first 15 hex chars of md5
def _h(col, salt: str = "") -> F.Column:
    c = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _pairs_from_sorted_ids(grouped: DataFrame, ids_col: str = "ids") -> DataFrame:
    """(group, sorted distinct id array) -> one (id1, id2) row per id1 <
    id2 combination, emitted with a nested array transform — replaces a
    bucket SELF-JOIN for candidate generation (no second shuffle of the
    bucket table, no join at all). Caller guarantees ``ids_col`` is
    sorted and duplicate-free so each ordered pair appears exactly once
    per group."""
    ids = F.col(ids_col)
    return grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids,
                    lambda x, i: F.transform(
                        F.slice(ids, i + 2, F.size(ids)),
                        lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id1", "p.id2")


def _with_cached_deps(out: DataFrame, deps: list) -> DataFrame:
    """Record the persisted intermediates a result plan depends on, so
    ``release(out)`` can unpersist them after the consuming action.
    Long-lived sessions (bench loops, services) otherwise accumulate
    cached shingle/band tables for the session lifetime."""
    out._spark_graft_cached = deps  # type: ignore[attr-defined]
    return out


def release(df: DataFrame) -> None:
    """Unpersist the cached intermediates behind a dedup result. Call AFTER
    the consuming action (collect/write); re-using the result afterwards
    recomputes from source (correct, just slower). No-op for DataFrames
    without cached deps — safe to call on any query result."""
    for dep in getattr(df, "_spark_graft_cached", []) or []:
        dep.unpersist()
    if hasattr(df, "_spark_graft_cached"):
        df._spark_graft_cached = []


# ---------------------------------------------------------------- exact

def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content hash; keeps the smallest id as the
    canonical representative. Returns (text_hash, keep_id, n_dupes)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_dupes"),
        )
    )


def duplicated_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk: int = 40,
    stride: int = 40,
    min_docs: int = 2,
) -> DataFrame:
    """Passage-level exact-substring duplication: the chunked
    approximation of suffix-array ExactSubstr dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better") — slide
    fixed-width windows over each document, group identical windows
    corpus-wide, report every chunk seen in >= ``min_docs`` distinct
    documents. Catches copied PASSAGES inside otherwise-distinct
    documents, which whole-document `exact_dedup` cannot.
    Returns (chunk, n_docs, n_occ, first_doc).

    Scale: chunk generation is map-only — one Generate (explode of the
    per-doc offset array) plus a Project whose substr runs inside
    whole-stage codegen; the document text never crosses a stage
    boundary. The single exchange is the groupBy on the chunk value with
    map-side partial aggregation. No join anywhere. At 100 TB, group on
    ``_h(chunk)`` instead of the 40-byte string to shrink the shuffle
    (the string form is kept here so the oracle can compare values), and
    raise ``stride`` toward ``chunk`` to trade recall for volume."""
    full = df.filter(F.length(text_col) >= chunk)
    offs = F.sequence(
        F.lit(1), F.length(text_col) - (chunk - 1), F.lit(stride)
    )
    chunks = full.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                offs, lambda o: F.col(text_col).substr(o, F.lit(chunk))
            )
        ).alias("chunk"),
    )
    return (
        chunks.groupBy("chunk")
        .agg(
            F.count_distinct("_id").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
            F.min("_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


# ---------------------------------------------------------------- shingles

def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle). Built array-side
    (transform over sequence) then exploded — one pass, no window. Mirrors
    the DuckDB ``list_transform(range(...))`` oracle.

    ``distinct=True`` (set semantics, one shuffle) is required by Jaccard;
    pass ``distinct=False`` for duplicate-insensitive consumers (MinHash)
    — skipping the dedup shuffle is a free win at scale.

    The words array is materialized through a Generate barrier (explode of
    a one-element array) BEFORE the n-gram lambda. Without it, Catalyst's
    projection collapsing inlines the regex split into every element_at
    reference inside the higher-order function (no common-subexpression
    elimination under lambdas), re-splitting the text ~3x per shingle —
    measured 13x slower on sf0.1 documents (6.4s -> 0.5s)."""
    wdf = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(words(text_col))).alias("_w"),
    ).filter(F.size("_w") >= n)  # on the materialized array: 1 split/row
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("_w") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_w"), i + j + 1) for j in range(n)]
        ),
    )
    out = wdf.select("id", F.explode(shingles).alias("shingle"))
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs by n-gram Jaccard >= threshold.

    Plan: shingles are grouped to sorted per-shingle id LISTS (one shuffle
    on the shingle) and candidate pairs are emitted directly from each
    list with a nested array transform — there is NO shingle self-join
    anywhere, which removes both the join's second shuffle and the
    guard's extra join (measured 6.9s -> ~4s on sf0.1 documents vs the
    join formulation). ``max_shingle_df`` caps the list length — ON by
    default (1000): one boilerplate shingle in k docs contributes k^2/2
    candidate pairs, the classic quadratic blow-up at web scale, while
    carrying no near-dup signal. With the guard active the per-shingle
    state AND pair emission are both hard-bounded (<= ceiling ids,
    <= ceiling^2/2 pairs per shingle). Pass 0 to disable — only safe on
    bounded inputs: a shingle present in M docs then materializes an
    M-element list in one aggregation row. Note the Jaccard denominator
    counts the SURVIVING shingles per doc, so the guard is part of the
    metric's definition, mirrored by the oracle."""
    # distinct=False + collect_set: per-(doc,shingle) dedup happens INSIDE
    # the one shingle-keyed aggregation (set state), replacing the separate
    # distinct shuffle the old plan paid first
    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    if max_shingle_df > 0:
        grouped = grouped.filter(F.size("ids") <= max_shingle_df)
    # persisted: pair emission and per-doc sizes both read the grouped
    # table (one row per surviving shingle — far smaller than the
    # exploded shingle table the old plan cached)
    grouped = grouped.persist()
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    # ids is sorted and duplicate-free (shingles are distinct per doc), so
    # pairing element i with every later element yields each id1 < id2
    # candidate exactly once per shared shingle
    pairs = _pairs_from_sorted_ids(grouped)
    common = pairs.groupBy("id1", "id2").agg(
        F.count("*").cast("double").alias("common")
    )
    out = (
        common.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("n_sh", "n1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("n_sh", "n2"), "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n1") + F.col("n2") - F.col("common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )
    return _with_cached_deps(out, [grouped])


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram CONTAINMENT >= threshold:
    ``|A ∩ B| / min(|A|, |B|)`` over distinct word shingles.

    Jaccard under-scores subset duplication — a paragraph quoted inside a
    10x-longer document has tiny union-normalized overlap but containment
    ~1.0. This is the Broder (1997) "containment" resemblance twin of
    ``ngram_jaccard_pairs`` and the right metric for quote/snippet/
    boilerplate-inclusion dedup in a training corpus.

    Same plan and the same ``max_shingle_df`` hot-shingle guard as the
    Jaccard variant (joinless candidate emission from sorted per-shingle
    id lists — one shuffle, pair emission hard-bounded per shingle); only
    the final denominator differs. The guard changes the denominator to
    SURVIVING shingles per doc, mirrored by the oracle."""
    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    grouped = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("id")).alias("ids")
    )
    if max_shingle_df > 0:
        grouped = grouped.filter(F.size("ids") <= max_shingle_df)
    grouped = grouped.persist()
    sizes = (
        grouped.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_sh"))
    )
    pairs = _pairs_from_sorted_ids(grouped)
    common = pairs.groupBy("id1", "id2").agg(
        F.count("*").cast("double").alias("common")
    )
    out = (
        common.join(
            sizes.withColumnRenamed("id", "id1").withColumnRenamed(
                "n_sh", "n1"
            ),
            "id1",
        )
        .join(
            sizes.withColumnRenamed("id", "id2").withColumnRenamed(
                "n_sh", "n2"
            ),
            "id2",
        )
        .withColumn(
            "containment",
            F.round(F.col("common") / F.least("n1", "n2"), 4),
        )
        .filter(F.col("containment") >= threshold)
        .select("id1", "id2", "containment")
    )
    return _with_cached_deps(out, [grouped])


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    max_shingle_df: int = 0,
) -> DataFrame:
    """Benchmark-contamination scan: for each corpus doc, how much n-gram
    overlap it has with ANY benchmark document (the eval-leakage check a
    training pipeline runs before every data release). Returns
    (doc_id, n_shared_shingles, n_benchmark_docs) for contaminated docs
    only; self-pairs (same id on both sides) are excluded so the corpus
    may contain the benchmark.

    Plan: shingle both sides, equi-join on the shingle — the benchmark
    side is tiny relative to the corpus, so at 100 TB its shingle table
    broadcasts and the corpus side never shuffles. ``max_shingle_df`` > 0
    additionally drops corpus-frequent shingles (stopword n-grams) before
    the join, the same blow-up guard as ``ngram_jaccard_pairs``."""
    sh_c = word_shingles(corpus, id_col, text_col, n)
    if max_shingle_df > 0:
        rare = (
            sh_c.groupBy("shingle")
            .count()
            .filter(F.col("count") <= max_shingle_df)
            .select("shingle")
        )
        sh_c = sh_c.join(rare, "shingle")
    sh_b = (
        word_shingles(benchmark, id_col, text_col, n)
        .withColumnRenamed("id", "bench_id")
    )
    return (
        sh_c.join(F.broadcast(sh_b), "shingle")
        .filter(F.col("id") != F.col("bench_id"))
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.count_distinct("shingle").alias("n_shared_shingles"),
            F.count_distinct("bench_id").alias("n_benchmark_docs"),
        )
    )


# ---------------------------------------------------------------- minhash

# universal-hash family modulus for the per-seed permutations: prime just
# above 2^29.9 so a*h+b stays far below 2^63 in BOTH engines (DuckDB raises
# on BIGINT overflow rather than wrapping — the mixer must never overflow)
MINHASH_P = 1_000_000_007


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """MinHash signature rows: (id, seed, minhash). The shingle string is
    md5-hashed ONCE; the per-seed "permutations" are universal hashes
    ``(a_s*h + b_s) mod p`` over that base (integer ops only) — the same
    family Spark ML's MinHashLSH uses. vs hashing the full string per
    seed, the expensive digest runs num_hashes x fewer times. Min per
    (id, seed) is map-side combinable."""
    # distinct=False: min() is duplicate-insensitive, so the dedup shuffle
    # would be pure waste; map-side partial min collapses per (id, seed)
    # before the one remaining shuffle
    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    # base hash projected BEFORE the seed explode: computed once per
    # shingle (Generate doesn't collapse the projection through itself)
    base = sh.select("id", (_h(F.col("shingle")) % MINHASH_P).alias("hs"))
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    a = F.col("seed") * 2 + 1
    b = F.col("seed") * 12345 + 6789
    return (
        base.select("id", "hs", seeds)
        .select("id", "seed", ((a * F.col("hs") + b) % MINHASH_P).alias("h"))
        .groupBy("id", "seed")
        .agg(F.min("h").alias("minhash"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """LSH candidate pairs: band the signature (num_hashes/rows_per_band
    bands), bucket on (band, band_hash), emit pairs per bucket. Never a
    cross join — the LSH trick that makes near-dup detection feasible at
    10^12 rows.

    Plan (round 2): the whole signature is computed in ONE id-keyed
    aggregation — ``num_hashes`` min columns over the shared base hash,
    each map-side combinable — instead of exploding rows num_hashes x and
    shuffling (id, seed). Band hashes are then pure projection, and
    candidates come from a (band, band_hash) bucket aggregate with direct
    pair emission (no band self-join, no persist, nothing cached). Total:
    three shuffles end to end (sig agg, bucket agg, final distinct) vs
    five plus a double-read in the join formulation.

    Degenerate corpora (millions of IDENTICAL docs) make one bucket's id
    list huge — run ``exact_dedup`` first, as any dedup pipeline does,
    so identical docs are already collapsed when MinHash runs."""
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by "
            f"rows_per_band ({rows_per_band})"
        )
    bands = _band_table(
        df, id_col, text_col, n, num_hashes, rows_per_band
    )
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(F.sort_array(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return _pairs_from_sorted_ids(buckets).distinct()


def _band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band, band_hash) LSH band rows — the shared front half of
    ``minhash_lsh_pairs`` and ``minhash_incremental_dedup``. The whole
    signature is ONE id-keyed aggregation (num_hashes map-combinable min
    columns over the shared base hash — same universal-hash family as
    ``minhash_signatures``: a=2s+1, b=12345s+6789 mod p, so the oracle's
    per-seed formulation produces identical minima); band hashes are pure
    projection."""
    sh = word_shingles(df, id_col, text_col, n, distinct=False)
    base = sh.select("id", (_h(F.col("shingle")) % MINHASH_P).alias("hs"))
    sig = base.groupBy("id").agg(
        *[
            F.min(
                (F.lit(2 * s + 1) * F.col("hs") + F.lit(12345 * s + 6789))
                % MINHASH_P
            ).alias(f"_m{s}")
            for s in range(num_hashes)
        ]
    )
    n_bands = num_hashes // rows_per_band
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"_m{b * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        "id",
        F.col("bk.band").alias("band"),
        F.col("bk.band_hash").alias("band_hash"),
    )


def minhash_incremental_dedup(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Cross-RUN near-dup dedup: drop documents from the NEW batch whose
    MinHash signature collides (any LSH band) with the already-ingested
    corpus — the fuzzy twin of the exact-fingerprint incremental gate.
    Returns the surviving new rows, columns untouched.

    Asymmetric by design: no old x old and no new x new pairs are ever
    formed — the old side collapses to its DISTINCT occupied (band,
    band_hash) buckets (O(|old| x n_bands) rows that aggregate
    map-side), and the new batch probes them with one left-semi +
    left-anti. At 10^12 ingested docs the bucket table is far past
    broadcast size, but it shuffles once by its own key and the probe is
    an equi-join — never a cross join; the daily batch (the small side)
    is what moves."""
    if num_hashes % rows_per_band != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by "
            f"rows_per_band ({rows_per_band})"
        )
    occupied = (
        _band_table(old, id_col, text_col, n, num_hashes, rows_per_band)
        .select("band", "band_hash")
        .distinct()
    )
    hits = (
        _band_table(new, id_col, text_col, n, num_hashes, rows_per_band)
        .join(occupied, ["band", "band_hash"], "left_semi")
        .select(F.col("id").alias(id_col))
        .distinct()
    )
    return new.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------- simhash

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash over distinct word tokens: hash each token to
    ``bits`` bits, sum +/-1 per bit position, sign -> bit. Returns
    (id, simhash:bigint)."""
    toks = (
        df.select(F.col(id_col).alias("id"), F.explode(words(text_col)).alias("tok"))
        .filter(F.length("tok") > 0)
        .distinct()
        .select(
            "id", F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long").alias("h")
        )
    )
    # one wide aggregation: per-bit +/-1 sums as ``bits`` columns (map-side
    # combinable, ONE shuffle on id) instead of exploding 32x rows through
    # two groupBys — shift amounts are literals, so the builtins apply
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) * 2 - 1
            ).alias(f"_b{b}")
            for b in range(bits)
        ]
    )
    sig = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(1, bits),
        F.when(F.col("_b0") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return bit_sums.select("id", sig.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-duplicate pairs: band the ``bits``-bit signature into
    ``n_bands`` slices; by pigeonhole, any pair within ``max_hamming``
    (< n_bands) shares at least one identical band, so candidates come from
    a band equi-join (never a cross join); verify with
    ``bit_count(simhash1 XOR simhash2) <= max_hamming``.
    Returns (id1, id2, hamming)."""
    # pigeonhole completeness requires both; violating callers would
    # silently miss pairs, so fail loudly instead
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_bands ({n_bands}): "
            "a pair may differ in every band otherwise"
        )
    if bits % n_bands != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by n_bands ({n_bands})"
        )
    sig = simhash(df, id_col, text_col, bits).persist()
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(
                        f"shiftright(simhash, {b * band_bits}) & {mask}"
                    ).alias("band_val"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select("id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id1"),
            F.col("b.id").alias("id2"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return _with_cached_deps(out, [sig])


# ---------------------------------------------------------------- clusters

def connected_components(
    pairs: DataFrame,
    id1: str = "id1",
    id2: str = "id2",
    max_iter: int = 25,
    checkpoint_every: int = 5,
    driver_max_edges: int = 2_000_000,
) -> DataFrame:
    """Near-duplicate CLUSTERS from candidate pairs — the step that turns
    any pair generator (MinHash/SimHash/Jaccard/embedding) into dedup
    groups: connected components by iterative min-label propagation, with
    the component labeled by its smallest member id (the keep-min-id
    winner convention shared by exact_dedup/curate). Returns
    (node, component) for every node that appears in ``pairs``.

    Plan per iteration: each node takes min(own label, neighbors'
    labels), computed as ONE aggregation over the union of the label
    table with the neighbor contributions (edges ⋈ labels) — two keyed
    shuffles per round, and the round's only action doubles as the
    convergence check: labels are monotonically non-increasing under
    min-propagation, so the label SUM (exact DECIMAL(38,0) — no long
    overflow at web-scale id ranges) is strictly decreasing until the
    fixed point; an unchanged sum IS convergence, with no extra
    old-vs-new join. Converges in O(component diameter) iterations
    (near-dup clusters are shallow — single digits in practice;
    GraphFrames' large-star/small-star trades more per-round work for
    O(log n) rounds, unneeded here); ``max_iter`` bounds a pathological
    chain. Every ``checkpoint_every`` rounds the label table is
    localCheckpoint-ed to truncate the growing lineage — without it
    iteration k replans the whole k-deep DAG.

    Iterative-by-nature: each round's labels are materialized — this is
    a driver-orchestrated algorithm, not one lazy plan. The candidate
    graph is orders of magnitude smaller than the corpus (it holds only
    docs that collided in some band/bucket), so the per-round shuffles
    are small; the dominant cost at modest scale is round-trip latency,
    which the fused action keeps to one job per round.

    SIZE-GATED HYBRID: when the (already-materialized) edge table has at
    most ``driver_max_edges`` rows (default 2M ≈ tens of MB — trivially
    driver-safe), components are computed by union-find ON THE DRIVER in
    one collect: at that size every distributed round costs more in
    scheduling latency than the whole problem costs in Python, the same
    threshold call every graph system makes (GraphX/GraphFrames users
    collect small graphs too). The distributed loop remains the path for
    web-scale candidate graphs; both paths share the keep-min-id
    convention and are pinned equal in ``tests/test_dedup.py``. Set
    ``driver_max_edges=0`` to force the distributed path.
    """
    e = pairs.select(F.col(id1).alias("a"), F.col(id2).alias("b"))
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = edges.select("a").distinct().withColumn("label", F.col("a"))
    labels = labels.persist()
    if labels.count() == 0:
        # no pairs -> no components; skip the propagate round entirely
        # (a full join+agg iteration is pure overhead on empty input,
        # the common case for clean corpora at high thresholds)
        edges.unpersist()
        out = labels.select(
            F.col("a").alias("node"), F.col("label").alias("component")
        )
        return _with_cached_deps(out, [labels])
    if driver_max_edges and edges.count() <= driver_max_edges:
        # small-graph fast path: one collect + union-find, no rounds
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["a"], row["b"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min root wins -> component label = smallest member id
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        node_type = edges.schema["a"].dataType
        spark = pairs.sparkSession
        out = spark.createDataFrame(
            [(n, find(n)) for n in parent],
            T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("component", node_type),
                ]
            ),
        )
        labels.unpersist()
        edges.unpersist()
        return _with_cached_deps(out, [])
    # Convergence signal: for NUMERIC ids the exact DECIMAL(38,0) label
    # sum is strictly decreasing until the fixed point (labels are
    # monotone non-increasing under min-propagation), so the one agg
    # action doubles as materialization + convergence check. For
    # non-numeric ids (string doc ids) that cast yields NULL — and a
    # NULL sum must NOT read as converged (None == None after round one
    # would silently truncate propagation for any cluster of diameter
    # > 2) — so string-labeled graphs fall back to an explicit
    # changed-label count against the previous round's table (one extra
    # small join per round, on the label table only).
    numeric_labels = isinstance(edges.schema["a"].dataType, T.NumericType)
    prev_sum = None
    try:
        for it in range(max_iter):
            contrib = edges.join(
                labels.select(
                    F.col("a").alias("b"), F.col("label").alias("cand")
                ),
                "b",
            ).select("a", "cand")
            own = labels.select("a", F.col("label").alias("cand"))
            new_labels = (
                own.unionByName(contrib)
                .groupBy("a")
                .agg(F.min("cand").alias("label"))
            )
            if (it + 1) % checkpoint_every == 0:
                new_labels = new_labels.localCheckpoint(eager=False)
            new_labels = new_labels.persist()
            if numeric_labels:
                cur_sum = new_labels.agg(
                    F.sum(F.col("label").cast("decimal(38,0)"))
                ).collect()[0][0]
                # a None sum (empty table / unexpected NULLs) is never
                # evidence of convergence
                converged = cur_sum is not None and cur_sum == prev_sum
                prev_sum = cur_sum
            else:
                changed = (
                    new_labels.join(
                        labels.select(
                            "a", F.col("label").alias("_prev_label")
                        ),
                        "a",
                    )
                    .filter(F.col("label") != F.col("_prev_label"))
                    .count()
                )
                converged = changed == 0
            labels.unpersist()
            labels = new_labels
            if converged:
                break
        out = labels.select(
            F.col("a").alias("node"), F.col("label").alias("component")
        )
        # the final label table stays cached (the result reads it);
        # dedup.release(out) reclaims it after the consuming action
        return _with_cached_deps(out, [labels])
    finally:
        edges.unpersist()


def apply_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """END-TO-END dedup: given any candidate-pair table, return the
    SURVIVOR corpus — one document per near-dup cluster (the smallest id,
    the keep-min-id convention shared across this module) plus every
    document that appears in no pair. This is the step that turns the
    pair generators + ``connected_components`` into an actual corpus
    transformation (what a MinHash dedup job writes back out).

    Plan: components over the pairs (iterative, bounded by cluster
    diameter), then one broadcast-able anti-join of the corpus against
    the LOSER set (cluster members that are not the component label).
    The loser table is |dup docs| rows — orders of magnitude smaller
    than the corpus at realistic dup rates, so the corpus side never
    shuffles when it fits a broadcast; at pathological dup rates Spark
    falls back to a shuffled anti-join, still one exchange.

    The pairs table decides survivorship only; all corpus columns pass
    through untouched.
    """
    comp = connected_components(pairs, id1=id1, id2=id2)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    out = docs.join(losers, id_col, "left_anti")
    return _with_cached_deps(out, getattr(comp, "_spark_graft_cached", []))


# ---------------------------------------------------------------- latest

def dedup_latest(
    df: DataFrame, key_cols: list, order_col: str, tiebreak_col: str = None
) -> DataFrame:
    """Keep the newest row per key (re-ingest / late-duplicate semantics,
    the NFR-008 'duplicate emails tolerated' analog): ``max_by`` the full
    row on (order, tiebreak). An aggregation, not a window: map-side
    partial max_by collapses duplicates BEFORE the exchange, so the
    shuffle carries ~one row per (key, map partition) instead of every
    duplicate — the win at web-scale re-ingest rates. (Struct-typed
    max_by plans as SortAggregate, so a key-only sort remains; the window
    form both shuffles all duplicates AND sorts by (key, ts, tie).)"""
    order_keys = [F.col(order_col)]
    if tiebreak_col:
        order_keys.append(F.col(tiebreak_col))
    payload_cols = [c for c in df.columns if c not in key_cols]
    picked = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*payload_cols), F.struct(*order_keys)).alias("_r")
    )
    return picked.select(
        *key_cols, *[F.col(f"_r.{c}").alias(c) for c in payload_cols]
    ).select(*df.columns)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact SUBSTRING dedup spans (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): find every ``window``-
    token run of text that occurs ``min_count``+ times across the corpus,
    keep its first occurrence (min (doc_id, pos)), and emit the token
    spans every OTHER occurrence should cut. Chunk/line dedup
    (``duplicated_chunks``) removes duplicated fixed blocks; this finds
    duplicated runs at ANY alignment — the suffix-array use case — via
    rolling window hashes, the standard distributed approximation.

    One corpus scan builds (doc, pos, window-hash) rows map-side
    (transform over a token-index sequence, JVM builtins, no Python);
    ONE shuffle groups hashes to count occurrences and pick the keeper;
    overlapping-or-adjacent duplicated windows merge into maximal spans
    with a per-doc window function (gaps-and-islands). At 100 TB the
    hash-group state is bounded by distinct windows, and the per-doc
    window sort is per-document-sized — no all-pairs anything.

    Returns (doc_id, span_start, span_end, span_tokens): 1-based
    inclusive token indices under the shared lowercase-whitespace
    tokenization contract. Occurrence identity packs as
    doc_id * 10^9 + pos (requires integer doc ids and < 10^9 tokens per
    doc — both asserted cheaply by the oracle twin).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    sz = F.size("toks")
    idxs = F.when(sz >= window, F.sequence(F.lit(1), sz - window + 1)).otherwise(
        F.array().cast("array<int>")
    )
    wins = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idxs,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.md5(
                        F.concat_ws(" ", F.slice("toks", i, window))
                    ).alias("h"),
                ),
            )
        ).alias("x"),
    ).select(
        "doc_id",
        F.col("x.pos").alias("pos"),
        F.col("x.h").alias("h"),
        (
            F.col("doc_id").cast("long") * F.lit(1_000_000_000)
            + F.col("x.pos")
        ).alias("k"),
    )
    g = wins.groupBy("h").agg(
        F.count("*").alias("n"), F.min("k").alias("keeper")
    )
    dup = (
        wins.join(g.filter(F.col("n") >= min_count), "h")
        .filter(F.col("k") != F.col("keeper"))
        .select("doc_id", "pos")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + window - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = dup.withColumn(
        "island",
        F.sum(
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
            ).otherwise(0)
        ).over(w),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + window - 1).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY side of ExactSubstr dedup (Lee et al. 2021): cut the token
    spans ``duplicate_spans`` reported and rebuild each document's text
    from the surviving tokens. The pair is the full dedup story — find
    the duplicated runs corpus-wide, then materialize the cleaned corpus.

    ``spans``: (doc_id, span_start, span_end, ...) — 1-based inclusive
    token indices under the shared lowercase-whitespace contract (the
    rebuilt text is therefore the lowercase tokenized form; span removal
    is a token-level operation by definition).

    Scale shape: spans aggregate to ONE array per doc (per-doc span
    count-sized, bounded by doc length), then a single equi-join on
    doc_id back to the corpus; the cut itself is a map-side array
    ``filter`` with an ``exists`` probe over the doc's own spans — no
    explode of the corpus, no Python. Docs with no spans pass through
    unchanged (left join, empty-array coalesce).

    Returns (doc_id, n_tokens, n_removed, text_clean).
    """
    per_doc = spans.groupBy(F.col(id_col).alias("_sid")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                F.col("span_end").alias("e"),
            )
        ).alias("_spans")
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    joined = toks.join(
        per_doc, toks.doc_id == per_doc._sid, "left"
    ).select(
        "doc_id",
        "toks",
        F.coalesce(
            "_spans", F.array().cast("array<struct<s:int,e:int>>")
        ).alias("spans"),
    )
    kept = F.filter(
        F.transform(
            "toks", lambda x, i: F.struct(x.alias("t"), (i + 1).alias("p"))
        ),
        lambda s: ~F.exists(
            "spans",
            lambda sp: (s["p"] >= sp["s"]) & (s["p"] <= sp["e"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda s: s["t"]), " "
        ).alias("text_clean"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 2,
    block_len: int = 10,
    max_block: int | None = None,
) -> DataFrame:
    """Fuzzy near-duplicate pairs by Levenshtein distance with prefix
    blocking — the record-linkage workhorse for SHORT strings (names,
    titles, product labels; for document bodies use MinHash/SimHash —
    edit distance is O(len^2) per comparison).

    Blocking: candidates must share the lowercased ``block_len``-char
    prefix AND have lengths within ``max_dist`` (a true edit-distance
    bound) — an equi-join, never all-pairs; pairs differing inside the
    prefix are missed, the standard blocking recall trade (same contract
    as the LSH band join; pick block_len <= the stable prefix of your
    domain). Within a block the candidate set is quadratic — the same
    hot-block caveat as n-gram shingles; ``lower(substring)`` is
    deterministic so both engines see identical blocks. Verification is
    the JVM ``levenshtein`` builtin in its BOUNDED form (threshold arg:
    O(len*max_dist) banded DP with early exit instead of O(len^2); -1
    above the bound) behind an equality shortcut — duplicate-heavy
    domains skip the DP entirely for exact matches.

    Hot-block guard (``max_block``): within a block candidates are
    QUADRATIC in block size, and unlike shingle DF the block population
    grows linearly with the corpus — the r4 scale probe measured pair
    exponent ~2.0 per 10x on a low-cardinality name domain
    (scripts/scale_probe.py, BENCH.md "Scale probe"). ``max_block``
    drops blocks with more than that many members BEFORE the join (one
    count aggregate + a broadcast semi-join on the small surviving-block
    list). A dropped block is recall loss on exactly the strings too
    common to be interesting near-dup candidates — same trade as the
    [[tfidf_cosine_pairs]] ``max_df`` ceiling. ``None`` (default) keeps
    the exact behavior for oracle-checkable fixtures; at corpus scale
    set it to the largest block you are willing to pay O(b²) for.

    Returns (id1, id2, dist), id1 < id2, dist <= max_dist.
    """
    t = df.select(
        F.col(id_col).alias("id"),
        F.lower(F.col(text_col)).alias("t"),
    ).withColumn("blk", F.substring("t", 1, block_len))
    if max_block is not None:
        keep_blk = (
            t.groupBy("blk")
            .agg(F.count("*").alias("__bn"))
            .filter(F.col("__bn") <= max_block)
            .select("blk")
        )
        t = t.join(F.broadcast(keep_blk), "blk", "left_semi")
    a = t.select(
        F.col("id").alias("id1"), F.col("t").alias("t1"), "blk"
    )
    b = t.select(
        F.col("id").alias("id2"), F.col("t").alias("t2"), "blk"
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("id1") < F.col("id2"))
            & (
                F.abs(F.length("t1") - F.length("t2")) <= max_dist
            )
        )
        .select(
            "id1",
            "id2",
            F.when(F.col("t1") == F.col("t2"), F.lit(0))
            .otherwise(
                F.levenshtein(F.col("t1"), F.col("t2"), max_dist)
            )
            .alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    min_shared: int = 1,
    max_shingle_df: int = 0,
) -> DataFrame:
    """APPLY twin of ``contamination_check``: drop every corpus doc whose
    n-gram overlap with the benchmark reaches ``min_shared`` shared
    shingles, return the surviving corpus rows unchanged — the
    decontamination gate a training pipeline runs between ingest and
    release. Same plan as the scan (benchmark shingles broadcast, corpus
    never shuffles to find hits) plus one anti-join; the drop set is
    hit-sized, not corpus-sized, so the anti-join's build side stays
    small at any corpus scale."""
    hits = contamination_check(
        corpus, benchmark, id_col, text_col, n=n,
        max_shingle_df=max_shingle_df,
    )
    drop = hits.filter(
        F.col("n_shared_shingles") >= min_shared
    ).select(id_col)
    return corpus.join(drop, id_col, "left_anti")


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard similarity join via PREFIX FILTERING (SSJoin /
    PPJoin, Chaudhuri'06 / Xiao'08): returns every pair with word-n-gram
    Jaccard >= threshold — the same result set as the naive
    any-shared-shingle join, WITHOUT the hot-shingle pair blow-up and
    without a metric-changing DF ceiling (`ngram_jaccard_pairs`' guard
    redefines the denominator; this operator needs no guard at all).

    How: order every doc's shingles by global rarity (document frequency
    asc, shingle asc — any total order works); two sets with Jaccard >=
    t MUST share a shingle within their first ``|x| - ceil(t*|x|) + 1``
    rarest shingles, so only those prefixes join. A boilerplate shingle
    in k docs sits at the END of every ordering and almost never lands
    in a prefix — candidate generation is driven by RARE shingles, whose
    fan-out is small by definition. At threshold 0.8 the prefix is ~20%
    of each doc's shingles, and the candidate join is quadratic only in
    per-rare-shingle frequency.

    Exactness discipline: the threshold is taken at 4-decimal precision
    and ALL comparisons are integer (prefix length via integer ceil;
    the final gate as ``common*(10000+t) >= t*(n1+n2)`` — no float
    compare anywhere); the emitted ``jaccard`` is the one terminal
    division, rounded to 4dp for display. Shuffles: shingle dedup,
    doc-frequency agg, per-doc rank window, prefix self-join, candidate
    verify join — all on shingle/id keys, no driver state.
    """
    t_scaled = int(round(threshold * 10000))
    # the shingle table feeds four consumers (doc sizes, global DF, the
    # rarity ranking, the candidate-verify join) — persist it once
    # instead of re-tokenizing the corpus four times; release() after
    # the consuming action, like every pair-generating dedup op here
    sh = word_shingles(df, id_col, text_col, n).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    ranked = (
        sh.join(dfreq, "shingle")
        .join(sizes, "id")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("id").orderBy("sdf", "shingle")
            ),
        )
    )
    # p = n_sh - ceil(t*n_sh) + 1; ceil(a*t) = (a*t_scaled + 9999) div 1e4
    # exactly (products < 2^53, so the double floor-cast is exact)
    ceil_tn = (
        (F.col("n_sh") * t_scaled + (10000 - 1)) / 10000
    ).cast("long")
    prefix = ranked.filter(
        F.col("pos") <= F.col("n_sh") - ceil_tn + 1
    ).select("id", "shingle")
    cand = (
        prefix.select(F.col("id").alias("id1"), "shingle")
        .join(
            prefix.select(F.col("id").alias("id2"), "shingle"), "shingle"
        )
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    common = (
        cand.join(sh.select(F.col("id").alias("id1"), "shingle"), "id1")
        .join(
            sh.select(F.col("id").alias("id2"), "shingle"),
            ["id2", "shingle"],
        )
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("common"))
    )
    out = (
        common.join(
            sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")),
            "id1",
        )
        .join(
            sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")),
            "id2",
        )
        .filter(
            F.col("common") * (10000 + t_scaled)
            >= t_scaled * (F.col("n1") + F.col("n2"))
        )
        .select(
            "id1",
            "id2",
            F.round(
                F.col("common").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )
    return _with_cached_deps(out, [sh])


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sim_ppm: int = 300_000,
    max_df: int = 1000,
    top_k: int | None = None,
) -> DataFrame:
    """All-pairs sparse cosine similarity over TF-IDF weights (APSS —
    the classic inverted-index formulation): candidate pairs and their
    similarity come from ONE self-equi-join of the posting lists on
    the TERM key — two documents ever meet only through a shared term,
    so disjoint-vocabulary pairs cost nothing. The cosine-weighted
    complement to the set-based [[ngram_jaccard]]/[[minhash_lsh]]
    family: near-dup detection that weighs WHICH words overlap, not
    just how many.

    Exactness: weights are integer-quantized up front — ``wq =
    floor(tf * ln((N+1)/(df+1)) * 1e6)`` (one libm call per TERM from
    exact integers, quantized before any sum) — so every pair's
    dot product and every document's squared norm are EXACT
    DECIMAL(38,0) sums; the only float is the final
    ``dot / sqrt(n1 * n2)`` emit per pair. No cross-row float
    summation anywhere, which is what lets DuckDB value-hash an
    all-pairs similarity table.

    Scale guard (the [[ngram_jaccard]] DF ceiling): terms with
    document frequency above ``max_df`` are dropped BEFORE the join —
    a stop-word-frequency term would otherwise generate O(df²) pairs
    on one key. The trade is standard APSS practice: ubiquitous terms
    carry near-zero idf weight anyway. Returns (id1, id2, dot_q,
    sim_ppm) for pairs at or above ``min_sim_ppm``.

    Output cap (``top_k``, r4 scale probe): the pair table above a
    FIXED similarity floor is corpus-shape-dependent — on an IID
    Zipf word-salad the probe measured pair exponent ~2.6 per 10x
    (scripts/scale_probe.py, BENCH.md "Scale probe"), because
    mid-frequency terms under the absolute ``max_df`` ceiling keep
    growing quadratic posting pairs. ``top_k`` keeps only each id1's
    k most-similar partners (rank window, ties to smaller id2 —
    Spark plans it as WindowGroupLimit, a partial top-k), bounding
    the OUTPUT to N*k by construction; candidate generation cost is
    unchanged, so pair it with a higher ``min_sim_ppm`` when the
    posting join itself is the bottleneck. ``None`` keeps the exact
    all-pairs semantics the DuckDB oracle checks.
    """
    if max_df < 2:
        raise ValueError("max_df must be >= 2")
    wds = tokens(F.col(text_col))
    terms = docs.select(
        F.col(id_col).alias("id"), F.explode(wds).alias("w")
    )
    tf = terms.groupBy("id", "w").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_t = tf.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    n_docs = F.broadcast(
        docs.agg(F.count("*").cast("long").alias("N"))
    )
    kept = (
        tf.join(df_t.filter(F.col("df") <= max_df), "w")
        .crossJoin(n_docs)
    )
    wq = F.floor(
        F.col("tf").cast("double")
        * F.log(
            (F.col("N") + 1).cast("double")
            / (F.col("df") + 1).cast("double")
        )
        * F.lit(1e6)
    ).cast("long")
    dec = "decimal(38,0)"
    weights = kept.select("id", "w", wq.alias("wq"))
    norms = weights.groupBy("id").agg(
        F.sum(F.col("wq").cast(dec) * F.col("wq").cast(dec)).alias("n2")
    )
    a = weights.select(
        F.col("id").alias("id1"), "w", F.col("wq").alias("wq1")
    )
    b = weights.select(
        F.col("id").alias("id2"), F.col("w").alias("w2"),
        F.col("wq").alias("wq2"),
    )
    dots = (
        a.join(b, (a.w == b.w2) & (a.id1 < b.id2))
        .groupBy("id1", "id2")
        .agg(
            F.sum(
                F.col("wq1").cast(dec) * F.col("wq2").cast(dec)
            ).alias("dot")
        )
    )
    sim = (
        dots.join(
            norms.select(F.col("id").alias("id1"), F.col("n2").alias("n2a")),
            "id1",
        )
        .join(
            norms.select(F.col("id").alias("id2"), F.col("n2").alias("n2b")),
            "id2",
        )
        .select(
            "id1",
            "id2",
            F.col("dot").cast("double").alias("dot_q"),
            F.floor(
                F.col("dot").cast("double")
                / F.sqrt(
                    F.col("n2a").cast("double") * F.col("n2b").cast("double")
                )
                * F.lit(1e6)
            ).cast("long").alias("sim_ppm"),
        )
        .filter(F.col("sim_ppm") >= F.lit(min_sim_ppm))
    )
    if top_k is not None:
        w = Window.partitionBy("id1").orderBy(
            F.col("sim_ppm").desc(), F.col("id2").asc()
        )
        sim = (
            sim.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= top_k)
            .drop("__r")
        )
    return sim


def apply_dedup_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Quality-aware variant of [[apply_dedup]]: per near-dup cluster,
    keep the member with the HIGHEST ``score_col`` (ties to the
    smallest id) instead of blindly the smallest id — the curation
    refinement production dedup actually wants ("when five copies of an
    article survive crawling, keep the cleanest one, not the first
    one"). Singletons (documents in no pair) always survive.

    Plan: components over the pairs (the shared iterative labeler),
    scores joined onto the |dup docs|-sized member table only (the
    corpus never shuffles for scoring), one ``max_by`` per component —
    map-combinable, the [[dedup_latest]] aggregation shape — then the
    same broadcast-able anti-join of the corpus against the losers.
    Deterministic: the (score, -id) argmax has a total order.
    """
    comp = connected_components(pairs, id1=id1, id2=id2)
    members = comp.join(
        docs.select(
            F.col(id_col).alias("node"),
            F.col(score_col).alias("__score"),
        ),
        "node",
    )
    # max score then min id — two combinable aggregates on the same
    # component key (one exchange, AQE reuses it), total order for ANY
    # orderable id type (string doc ids included)
    best = members.groupBy("component").agg(
        F.max("__score").alias("__ms")
    )
    winners = (
        members.join(best, "component")
        .filter(F.col("__score") == F.col("__ms"))
        .groupBy("component")
        .agg(F.min("node").alias("__winner"))
    )
    losers = (
        comp.join(winners, "component")
        .filter(F.col("node") != F.col("__winner"))
        .select(F.col("node").alias(id_col))
    )
    out = docs.join(losers, id_col, "left_anti")
    return _with_cached_deps(out, getattr(comp, "_spark_graft_cached", []))


def token_edit_distance_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    vocab_cap: int = 190,
) -> DataFrame:
    """TOKEN-level edit distance (word error rate) between paired
    documents — [[edit_distance_pairs]] counts CHARACTER edits; ASR /
    paraphrase / near-duplicate comparison wants WORD edits. The trick
    that keeps it all-JVM: dense-rank the vocabulary and encode every
    token as ONE character (codepoints 0x41..0x41+cap), so the
    built-in ``levenshtein`` on the encoded strings IS the token-level
    DP — no Python UDF, no quadratic pair explode.

    Vocabulary contract: ranks are (frequency desc, token asc) —
    deterministic; tokens past ``vocab_cap`` collapse into one OOV
    character (an OOV<->OOV substitution then costs 0 instead of 1,
    documented approximation; EXACT whenever distinct tokens <= cap).
    The cap exists because Spark's ``char`` wraps at 256 — codepoints
    stay single-char and identical in both engines' levenshtein.

    Plan: one vocab count shuffle (window over the distinct-token
    table), one broadcast token->char join, one per-doc ordered
    re-assembly, then the pair join computes levenshtein JVM-side.
    ``pairs`` carries (id_a, id_b); WER = dist / len(tokens of a) —
    the first element is the reference. Returns (id_a, id_b, n_ref,
    n_hyp, dist, wer_q6); wer null when the reference is empty.
    """
    toks = docs.select(
        F.col(id_col).alias("__id"), F.col(tokens_col).alias("__t")
    )
    vocab = (
        toks.select(F.explode("__t").alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__c"))
        .select(
            "__w",
            F.row_number()
            .over(Window.orderBy(F.desc("__c"), F.asc("__w")))
            .alias("__r"),
        )
        .select(
            "__w",
            F.when(F.col("__r") <= vocab_cap, F.col("__r") + 64)
            .otherwise(F.lit(255))
            .alias("__code"),
        )
    )
    enc = (
        toks.select("__id", F.posexplode("__t").alias("__p", "__w"))
        .join(F.broadcast(vocab), "__w")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__p", "__code"))
            ).alias("__pc")
        )
        .select(
            "__id",
            F.array_join(
                F.transform(F.col("__pc"), lambda s: F.char(s["__code"])),
                "",
            ).alias("__s"),
            F.size("__pc").alias("__n"),
        )
    )
    # empty-token docs never survive the explode join: restore them
    enc = toks.select("__id").join(enc, "__id", "left").select(
        "__id",
        F.coalesce("__s", F.lit("")).alias("__s"),
        F.coalesce("__n", F.lit(0)).alias("__n"),
    )
    a = enc.select(
        F.col("__id").alias("id_a"),
        F.col("__s").alias("__sa"),
        F.col("__n").alias("n_ref"),
    )
    b = enc.select(
        F.col("__id").alias("id_b"),
        F.col("__s").alias("__sb"),
        F.col("__n").alias("n_hyp"),
    )
    d = F.levenshtein(F.col("__sa"), F.col("__sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_ref",
            "n_hyp",
            d.cast("long").alias("dist"),
            F.when(
                F.col("n_ref") > 0,
                F.floor(
                    d.cast("double")
                    / F.col("n_ref").cast("double")
                    * F.lit(1e6)
                )
                / F.lit(1e6),
            ).alias("wer_q6"),
        )
    )
