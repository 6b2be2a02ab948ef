"""Count-min sketch: mergeable approximate frequency state.

Exact heavy hitters (``q_top_words``) need a shuffle keyed by every
distinct term; at 100 TB the distinct-term state itself is the problem.
The CMS bounds that state to depth x width integer cells regardless of
cardinality, merges across batches/partitions by cell-wise addition
(the property that makes it a streaming/incremental aggregate), and
answers point frequency queries with a one-sided error: estimate >= true
count, overshoot <= N * e / width with probability 1 - (1/2)^depth.

Determinism: cell assignment is md5-derived (``h_d(x) = md5("{d}:" + x)
mod width``) and all counts are integers, so sketches and estimates are
bit-exact across engines — the DuckDB oracle recomputes the identical
sketch. No floats anywhere.

Plan shape: building is explode(depth cells) -> ONE combinable groupBy
(map-side partial sums collapse each partition to <= depth*width rows
before the exchange — the sketch property doing its job in-plan).
Estimation joins the candidate items' cells against the sketch
(broadcast: the sketch is at most depth*width rows) and takes min over
depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _cell(item, d: int, width: int):
    """Row of the d-th hash: md5("{d}:"+item) first 8 hex chars mod width."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{d}:"), item)), 1, 8), 16, 10
    ).cast("long")
    return h % width


def cms_build(
    df: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Sketch of the multiset in ``item_col`` -> (d, w, cnt) cells.
    At most depth*width rows, regardless of input cardinality."""
    item = F.col(item_col)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _cell(item, d, width).alias("w"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c")
    )
    return cells.groupBy(F.col("c.d").alias("d"), F.col("c.w").alias("w")).agg(
        F.count("*").alias("cnt")
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum — the mergeability that lets per-batch / per-shard
    sketches combine into a corpus sketch without re-reading data."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("d", "w").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point frequency estimates for ``items[item_col]``: min over the
    depth cells each item hashes into. The sketch side is tiny
    (<= depth*width rows) and broadcast, so this is map-only over items."""
    item = F.col(item_col)
    cells = items.select(
        item.alias("item"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _cell(item, d, width).alias("w")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("c"),
    ).select("item", F.col("c.d").alias("d"), F.col("c.w").alias("w"))
    return (
        cells.join(F.broadcast(sketch), ["d", "w"], "left")
        # an absent cell means nothing ever hashed there: its count is 0,
        # and min(0, ...) correctly reports an unseen item as 0
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )

def kmv_build(
    df: DataFrame,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
) -> DataFrame:
    """K-minimum-values distinct-count sketch state per group: the k
    smallest md5-derived 60-bit hashes of the item column. The third
    member of the mergeable-sketch family here (CMS = frequencies,
    HLL++ via ``approx_count_distinct`` = opaque JVM cardinality state);
    KMV is the TRANSPARENT cardinality sketch — its state is plain
    BIGINT rows, so it is persistable to a table, mergeable by
    union + re-top-k, AND reproducible bit-for-bit by the DuckDB
    oracle, which HLL's binary registers are not.

    Hash contract: ``bigint(md5(item)[:15])`` — the same 60-bit uniform
    integer every sampling/salting op in this repo uses, identical in
    both engines by construction.

    Plan/scale: distinct (item, group) pairs first (map-combinable),
    then ONE group-keyed window keeps rank <= k — shuffle state per
    group is bounded by k, never by cardinality. Merging shard sketches
    is [[kmv_merge]] (re-top-k over the RAW hash union — never re-hash
    a sketch; pinned equal to the whole-corpus sketch in tests).

    Returns (group..., rank, h) — k rows per group (fewer when the
    group has < k distinct items).
    """
    h = F.conv(
        F.substring(F.md5(F.col(item_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return _kmv_topk(
        df.select(*group_cols, h.alias("h")), group_cols, k
    )


def _kmv_topk(hashed: DataFrame, group_cols: tuple[str, ...], k: int):
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(F.col("h").asc())
    return (
        hashed.select(*group_cols, "h")
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*group_cols, "rank", "h")
    )


def kmv_merge(
    sketches: list,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
) -> DataFrame:
    """Merge per-shard [[kmv_build]] sketches: union the RAW hash sets
    and keep the k smallest per group — NEVER re-hash sketch state (the
    estimator needs hashes of the original items). The merged k-set is
    identical to sketching the union corpus directly, which is the
    whole point of carrying the sketch instead of the corpus."""
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return _kmv_topk(u, group_cols, k)


def kmv_estimate(
    sketch: DataFrame,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
    hash_bits: int = 60,
) -> DataFrame:
    """Distinct-count estimate from a [[kmv_build]] sketch: if the k-th
    smallest of n uniform hashes in [0, 2^60) sits at value h_k, the
    unbiased estimator is (k-1) * 2^60 / h_k (Bar-Yossef et al.; the
    Beyer et al. unbiased form). Groups with fewer than k distinct
    items are EXACT — the sketch saw every hash, so the count of rows
    is the answer (the standard small-range escape).

    All decision logic on integers; the estimate is one deterministic
    float expression (BIGINT k-th hash, exact power-of-two scale),
    floor-quantized to whole items.

    Returns (group..., n_seen, est_distinct).
    """
    scale = float(2**hash_bits)
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").cast("long").alias("n_seen"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("hk"),
    )
    return agg.select(
        *group_cols,
        "n_seen",
        F.when(F.col("n_seen") < k, F.col("n_seen"))
        .otherwise(
            F.floor((k - 1) * F.lit(scale) / F.col("hk")).cast("long")
        )
        .alias("est_distinct"),
    )


def heavy_hitters(
    df: DataFrame,
    item_col: str,
    threshold_frac: float = 0.001,
    mg_slack: int = 2,
) -> DataFrame:
    """Exact heavy hitters via Misra-Gries candidate pruning — "every
    item with frequency >= threshold_frac * N, with its EXACT count",
    without ever shuffling the full distinct-key space. The exact
    [[cms_estimate]] complement: CMS answers point queries with
    one-sided error; this enumerates the heavy set with no error.

    Two phases:
    1. CANDIDATES: each partition runs a Misra-Gries summary with
       k = mg_slack / threshold_frac counters inside ``mapInPandas``
       (dict state across Arrow batches, O(k) memory, zero shuffle).
       Averaging argument: an item with global count > N/k exceeds
       n_p/k on at least one partition, so the union of partition
       summaries is a SUPERSET of every item at frequency > N/k —
       and with k = mg_slack/threshold_frac the user threshold sits
       mg_slack x above the guarantee line, so candidacy is
       order-independent for every emitted row (the DETERMINISM
       property the oracle needs; arrival order only perturbs
       below-threshold candidates, which phase 2 discards).
    2. VERIFY: one exact count over rows whose item joins the
       broadcast candidate list (<= k * partitions rows), filtered at
       ceil(threshold_frac * N).

    100-TB shape: the full-cardinality groupBy (billions of distinct
    keys) is replaced by a map-only pass plus a groupBy over ONLY
    candidate rows; driver state is the candidate list, bounded by
    k * partitions (README "Driver-state budget" applies to the
    broadcast, not a collect). Returns (item, cnt) exact, descending
    count then item for stable review order.
    """
    import pandas as pd

    k = int(mg_slack / threshold_frac)
    item = F.col(item_col).cast("string").alias("__it")
    src = df.select(item).filter(F.col("__it").isNotNull())

    def _mg(batches):
        # batch-merge Misra-Gries (Agarwal et al., mergeable
        # summaries): per Arrow batch take vectorized value_counts,
        # merge into the running summary, and when over k counters
        # subtract the (k+1)-th largest count from ALL and drop the
        # non-positives — same error guarantee as row-at-a-time MG
        # (total subtracted <= n_p/k per surviving item), C-speed.
        counters: "pd.Series | None" = None
        for pdf in batches:
            vc = pdf["__it"].value_counts()
            counters = vc if counters is None else counters.add(
                vc, fill_value=0
            )
            if len(counters) > k:
                m = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > m] - m
        keys = [] if counters is None else list(counters.index)
        yield pd.DataFrame({"__it": keys})

    cand = (
        src.mapInPandas(_mg, "`__it` string")
        .select("__it")
        .distinct()
    )
    total = F.broadcast(src.agg(F.count("*").alias("__n")))
    thr = F.ceil(F.col("__n") * F.lit(float(threshold_frac))).cast("long")
    return (
        src.join(F.broadcast(cand), "__it", "inner")
        .groupBy("__it")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(total)
        .filter(F.col("cnt") >= thr)
        .select(F.col("__it").alias("item"), "cnt")
        .orderBy(F.desc("cnt"), "item")
    )


def kmv_set_ops(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int = 64,
    hash_bits: int = 60,
) -> DataFrame:
    """Set-operation estimates from two [[kmv_build]] sketches:
    union/intersection cardinality and Jaccard similarity WITHOUT
    touching the original corpora — the sketch-algebra that lets two
    crawls/dumps/shards compare membership by exchanging k BIGINTs
    each (this estimates the overlap of what the two sides HOLD).

    Estimator (Beyer et al.): merge to the union's k-minimum set K;
    the fraction rho of K present in BOTH input sketches estimates
    Jaccard, and |A ∩ B| ≈ rho * |A ∪ B|_est. When the union has
    fewer than k distinct hashes everything degrades to EXACT (the
    sketches saw every element — the small-range escape).

    Determinism: KMV state is md5-derived BIGINT rows, so every count
    and estimate here reproduces bit-for-bit in the DuckDB oracle —
    the transparency that motivated KMV over HLL registers. Plan:
    sketch-sized joins only (k rows a side), zero corpus access.
    Returns one row (n_a_seen, n_b_seen, est_a, est_b, est_union,
    inter_in_k, union_k, jaccard_q6, est_intersection).
    """
    ea = kmv_estimate(sketch_a, (), k, hash_bits).select(
        F.col("n_seen").alias("n_a_seen"),
        F.col("est_distinct").alias("est_a"),
    )
    eb = kmv_estimate(sketch_b, (), k, hash_bits).select(
        F.col("n_seen").alias("n_b_seen"),
        F.col("est_distinct").alias("est_b"),
    )
    u = kmv_merge([sketch_a, sketch_b], (), k)
    eu = kmv_estimate(u, (), k, hash_bits).select(
        F.col("n_seen").alias("union_k"),
        F.col("est_distinct").alias("est_union"),
    )
    inter = (
        u.join(
            F.broadcast(sketch_a.select("h").distinct()), "h", "left_semi"
        )
        .join(
            F.broadcast(sketch_b.select("h").distinct()), "h", "left_semi"
        )
        .agg(F.count("*").cast("long").alias("inter_in_k"))
    )
    row = (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(inter))
    )
    rho = F.try_divide(
        F.col("inter_in_k").cast("double"),
        F.col("union_k").cast("double"),
    )
    return row.select(
        "n_a_seen",
        "n_b_seen",
        "est_a",
        "est_b",
        "est_union",
        "inter_in_k",
        "union_k",
        (F.floor(rho * F.lit(1e6)) / F.lit(1e6)).alias("jaccard_q6"),
        F.floor(rho * F.col("est_union").cast("double"))
        .cast("long")
        .alias("est_intersection"),
    )
