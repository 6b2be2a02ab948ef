"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   flagship extraction pipeline over sf0.001 parquet.
``queries()``      one entry per implemented operator (SURVEY.md §2 + the
                   training-data ops), each (spark, sf_dir) -> DataFrame.
``oracle_sql()``   DuckDB-runnable ANSI SQL twins. Non-SQL-expressible ops
                   (the extraction-kernel UDF, multimodal stubs,
                   streaming) are rows-only checked and say so below.

Column names are aliased identically on both sides — the driver sorts
columns by name before value-hashing.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig
from png_from_pdf_extracter_spark.functions import (
    curate,
    dedup,
    multimodal,
    incremental,
    search,
    similarity,
    text,
    udfs,
)
from png_from_pdf_extracter_spark.operators import (
    asof_join,
    asof_join_broadcast,
    asof_join_skewed,
    validate_rows,
    conversation_rollup,
    explode_units,
    range_join,
    reassemble_turns,
    session_stats,
    sessionize,
)
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.sources import generate_transcripts
from png_from_pdf_extracter_spark.sources.transcripts import SPAN_SCHEMA


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def _documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the documents table into the transcripts shape (conv_id, turn_idx,
    role, text, tool, ts) so the flagship runs over real parquet input."""
    d = _read(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return d.select(
        F.col("source").alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit(_dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)).alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: main-content extraction over sf0.001 — documents mapped to
    the transcripts shape, plus a slice of synthetic multi-payload
    transcripts, through the full salted extraction plan (one pandas UDF over
    ``text``, per-turn columns derived by builtins)."""
    sf_dir = "/root/testdata/sf0.001"
    params = JobParams(n_buckets=16, num_partitions=8)
    docs = _documents_as_transcripts(spark, sf_dir)
    synth = generate_transcripts(spark, GenConfig(n_convs=40))
    transcripts = docs.unionByName(synth)
    out = extract_turns(spark, transcripts, params)
    return out.select(
        "conv_id", "turn_idx", "status", "error_class", "extracted_text",
        "n_units", "partition_id",
    )


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def _q_sanitize(spark, sf_dir):
    p = _read(spark, sf_dir, "part")
    return p.select(
        "p_partkey", text.sanitize_name("p_name").alias("clean_name")
    )


def _q_regex_whitelist(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return (
        d.filter(F.col("source").rlike("^src1[0-9]$"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
    )


def _q_explode_reassembly(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    wds = F.split(F.trim(F.col("text")), r"\s+")
    exploded = d.select("doc_id", F.posexplode(wds).alias("pos", "word")).filter(
        F.col("word") != "the"
    )
    assembled = F.sort_array(F.collect_list(F.struct("pos", "word")))
    return exploded.groupBy("doc_id").agg(
        F.array_join(F.transform(assembled, lambda s: s["word"]), " ").alias(
            "reassembled"
        ),
        F.count("*").cast("long").alias("n_words"),
    )


def _q_window_order(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", "rn", "event_type")
    )


def _q_group_metrics(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct(F.col("user_id")).alias("n_users"),
        F.min(F.unix_timestamp("ts")).alias("min_epoch"),
        F.max(F.unix_timestamp("ts")).alias("max_epoch"),
    )


def _q_error_classify(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    cls = (
        F.when((F.col("event_type") == "error") & (F.col("value") > 50), "hard_error")
        .when(F.col("event_type") == "error", "soft_error")
        .when(F.col("value") > 90, "outlier")
        .otherwise("ok")
    )
    return e.select(cls.alias("error_class")).groupBy("error_class").agg(
        F.count("*").alias("n")
    )


def _with_reingest_exact(d: DataFrame) -> DataFrame:
    """Documents plus a deterministic re-ingest slice (every 7th doc again
    under a shifted id) — the synthetic documents table has zero natural
    duplicates at any sf, which made the dedup oracles pass vacuously
    (0 rows == 0 rows proves nothing). The planted dupes give the
    grouping/hash-match teeth; the oracle applies the identical union."""
    base = d.select("doc_id", "text")
    re = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
    )
    return base.unionByName(re)


def _with_reingest_mangled(d: DataFrame) -> DataFrame:
    """Re-ingest slice with whitespace-mangled text (double spaces, padded
    ends): byte-unequal to the original, fingerprint-equal after the
    normalize-exactly-once chain — so the fingerprint oracle proves the
    normalization, not just grouping."""
    base = d.select("doc_id", "text")
    re = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
    )
    return base.unionByName(re)


def _q_dedup_exact(spark, sf_dir):
    d = _with_reingest_exact(_read(spark, sf_dir, "documents"))
    return dedup.exact_dedup(d, "doc_id", "text").filter(F.col("n_dupes") > 1)


def _q_fingerprint(spark, sf_dir):
    d = _with_reingest_mangled(_read(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", text.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


def _q_rolling_fp(spark, sf_dir):
    """Rolling-hash document fingerprint (text.rolling_fingerprint):
    the Rabin-Karp polynomial form of q_fingerprint — all-integer fold,
    bit-exact across engines; the same planted whitespace-mangled
    re-ingest dupes prove the normalize-then-hash grouping."""
    d = _with_reingest_mangled(_read(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", text.rolling_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


def _q_chunk_dedup(spark, sf_dir):
    """Passage-level exact-substring dedup (chunked ExactSubstr): the
    planted re-ingest union guarantees cross-document repeated windows,
    so the oracle proves chunking + corpus-wide grouping, not just an
    empty result."""
    d = _with_reingest_exact(
        _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    )
    return dedup.duplicated_chunks(d, "doc_id", "text", chunk=40, stride=40)


def _q_mix_weights(spark, sf_dir):
    """Source mixing weights for a training data mix: per-source token
    share and the uniform-target sampling weight."""
    d = _read(spark, sf_dir, "documents")
    return curate.source_mix_weights(
        d.select("source", text.token_count("text").alias("n_tokens")),
        "source",
        "n_tokens",
    )


def _q_ngram_jaccard(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


def _q_minhash_lsh(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2)


def _q_dedup_components(spark, sf_dir):
    """Pairs -> CLUSTERS: connected components over the MinHash-LSH
    candidate pairs (iterative min-label propagation) vs a DuckDB
    RECURSIVE CTE transitive closure — the dedup-group assignment step
    that completes the pair generators into an actual deduper."""
    d = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.connected_components(pairs)


def _q_simhash(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return dedup.simhash(d, "doc_id", "text", bits=32).withColumnRenamed("id", "doc_id")


def _q_knn_cosine(spark, sf_dir):
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    return similarity.cosine_topk(e, q, k=5)


def _q_kmeans(spark, sf_dir):
    """Embedding k-means clustering (similarity.kmeans_assign — maxmin-
    seeded Lloyd, 2 rounds, 8 clusters) rolled up to per-cluster size + mean
    cosine-to-centroid. Rows-only: iterative float means make borderline
    assignments engine-specific; planted-cluster separation is pinned in
    tests/test_sessions.py.

    Every row also embeds ``sep_vs_global`` (r4 verdict #6, the
    ``recall_vs_exact`` pattern): mean cosine-to-owning-centroid minus
    the k=1 baseline (mean cosine to the single GLOBAL mean vector) —
    a clustering that beats one-cluster by a margin is doing real
    work, so the driver's rows-only check observes QUALITY, not just
    shape. The global mean is a dim-bounded collect folded back as a
    constant (the kmeans centroid discipline); floor asserted in
    tests/test_sessions.py."""
    import json as _json

    e = _read(spark, sf_dir, "embeddings")
    a = similarity.kmeans_assign(
        e, "vec_id", "embedding", n_clusters=8, iterations=2
    ).persist()
    mu_rows = (
        e.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .orderBy("d")
        .collect()  # dim-bounded driver state (README budget table)
    )
    mu = F.from_json(
        F.lit(_json.dumps([float(r["m"]) for r in mu_rows])),
        "array<double>",
    )
    dot = F.aggregate(
        F.zip_with(
            F.col("embedding"), mu, lambda x, m: x.cast("double") * m
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    base = e.select(
        (dot / (nrm(F.col("embedding")) * nrm(mu))).alias("cg")
    ).agg(F.avg("cg")).first()[0]
    assigned = a.agg(F.avg("cos_to_centroid")).first()[0]
    sep = round(float(assigned) - float(base), 6)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.floor(F.avg("cos_to_centroid") * 1000) / 1000).alias(
                "mean_cos"
            ),
        )
        .withColumn("sep_vs_global", F.lit(sep))
        .orderBy("cluster")
    )


def _q_lang_id(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_id("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n"))
    )


def _q_quality_tokens(spark, sf_dir):
    d = _read(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        text.stopword_hits("text").alias("n_stopwords"),
    )


def _q_tpch_q1(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def _q_join_topn(spark, sf_dir):
    """Broadcast-join orders->customer->nation, top revenue per nation."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    agg = joined.groupBy("n_name").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count("*").alias("n_orders"),
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    return agg.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 10
    )


def _q_cc_split(spark, sf_dir):
    """Array split/trim/filter chain (ref config.py:142-143) over a derived
    semicolon list."""
    d = _read(spark, sf_dir, "documents")
    lst = F.concat_ws(
        ";", F.col("source"), F.lit(" padded "), F.lit(""), F.col("lang")
    )
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id", F.array_join(text.cc_split(lst), "|").alias("cc_joined")
    )


def _q_embed_near_dup(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs (the LSH variant's correctness
    baseline). O(n^2) by construction, so bounded to a 500-vector slice at
    any sf — the unbounded scale paths are q_embed_neardup_lsh / q_ann_*."""
    e = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return similarity.embedding_near_dup_exact(e, threshold=0.35)


def _q_conv_rollup(spark, sf_dir):
    """Conversation-level reassembly under stable turn ordering (the
    'single reply regardless of size' semantics, ref spec.md:80)."""
    t = _documents_as_transcripts(spark, sf_dir)
    turns = t.select(
        "conv_id", "turn_idx", F.col("text").alias("extracted_text")
    )
    return conversation_rollup(turns)


def _q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole band join + hamming verify."""
    d = _read(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(
        d, "doc_id", "text", bits=32, max_hamming=1, n_bands=2
    ).withColumnRenamed("id1", "doc1").withColumnRenamed("id2", "doc2")


def _q_dedup_latest(spark, sf_dir):
    """Keep-newest-per-key dedup (late/duplicate re-ingest tolerance,
    spec NFR-008 analog) over the events stream."""
    e = _read(spark, sf_dir, "events")
    return dedup.dedup_latest(
        e, ["user_id"], "ts", tiebreak_col="event_id"
    ).select("user_id", "event_id", "event_type")


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min) over the events stream."""
    e = _read(spark, sf_dir, "events")
    return sessionize(e, "user_id", "ts", 1800, tiebreak_col="event_id").select(
        "user_id", "event_id", "session_idx"
    )


def _q_session_stats(spark, sf_dir):
    """Per-session rollup: bounds (as epochs), count, duration."""
    e = _read(spark, sf_dir, "events")
    s = sessionize(e, "user_id", "ts", 1800, tiebreak_col="event_id")
    st = session_stats(s, "user_id", "ts")
    return st.select(
        "user_id",
        "session_idx",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "n_events",
        "duration_s",
    )


def _q_argmax(spark, sf_dir):
    """Top-1-per-group via max_by aggregation — no window, no sort: the
    partial-aggregation path that beats window ranking when k=1 at scale.
    Tie-broken deterministically by (price, orderkey) struct comparison."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    key = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return j.groupBy("n_name").agg(
        F.max_by("o_orderkey", key).alias("top_orderkey"),
        F.round(F.max("o_totalprice"), 2).alias("top_price"),
    )


def _q_running_total(spark, sf_dir):
    """Running aggregates (lag + cumulative sum per key) — the ordered-
    window family beyond ranking."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            4,
        ).alias("running_value"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


def _q_date_trunc(spark, sf_dir):
    """Calendar functions: month truncation + year/quarter extraction over
    the orders timeline."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct(
                F.date_trunc("month", "o_orderdate")
            ).alias("n_months"),
        )
    )


def _q_array_funcs(spark, sf_dir):
    """Higher-order array functions (transform/filter/aggregate) — word
    lengths computed entirely JVM-side, no UDF."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    words = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda w: F.length(w) > 0
    )
    lens = F.transform(words, F.length)
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).alias("total_len"),
        F.array_max(lens).alias("max_len"),
        F.size(F.filter(lens, lambda x: x > 6)).alias("n_long"),
    )


def _q_validate(spark, sf_dir):
    """CHECK-constraint validation as a when-chain (operators/validate.py,
    the reference's __post_init__ rules): documents are deterministically
    mangled into a dirty transcripts-shaped frame, then each row reports
    its FIRST violated rule; counts per violation class."""
    d = _read(spark, sf_dir, "documents")
    t = d.select(
        F.when(F.col("doc_id") % 13 == 0, F.lit("")).otherwise(
            F.col("source")
        ).alias("conv_id"),
        F.when(F.col("doc_id") % 11 == 0, F.lit(-1))
        .otherwise(F.col("doc_id") % 50)
        .cast("int")
        .alias("turn_idx"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("robot"))
        .otherwise(F.lit("user"))
        .alias("role"),
        F.when(F.col("doc_id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.lit("").alias("tool"),
        F.when(
            F.col("doc_id") % 19 == 0, F.lit(None).cast("timestamp")
        ).otherwise(F.lit("2026-01-01 00:00:00").cast("timestamp")).alias("ts"),
    )
    return (
        validate_rows(t, max_text_bytes=5000)
        .groupBy("violation")
        .agg(F.count("*").alias("n"))
    )


def _q_unpivot(spark, sf_dir):
    """Unpivot (wide->long): lineitem measures melted to (measure, val)
    rows, then aggregated — the inverse of q_pivot."""
    li = _read(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.unpivot(
        ids=["l_orderkey"],
        values=measures,
        variableColumnName="measure",
        valueColumnName="val",
    )
    return long.groupBy("measure").agg(
        F.round(F.sum("val"), 2).alias("total"),
        F.count("*").alias("n"),
    )


def _q_cube(spark, sf_dir):
    """CUBE: all grouping-set combinations of (returnflag, linestatus)."""
    li = _read(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
    )


def _q_json_extract(spark, sf_dir):
    """Typed JSON payload decode (from_json with explicit schema — never
    inference in the hot path) + aggregation over the extracted field."""
    e = _read(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null"),
        )
    )


def _q_pivot(spark, sf_dir):
    """Pivot (long->wide): per-user event-type counts as columns. The
    pivot value list is explicit, so the plan is a single pass (no extra
    distinct-values job)."""
    e = _read(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


def _q_profile(spark, sf_dir):
    """Exact per-group data profiling: distinct cardinality + interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`)."""
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.avg("value"), 4).alias("mean_value"),
    )


def _q_profile_sketch(spark, sf_dir):
    """Sketch-based profiling — the 100 TB path: HLL++ cardinality and
    t-digest-style approx percentiles are mergeable partial aggregates
    (no giant exact-distinct shuffle). Approximate by design -> rows-only;
    accuracy vs the exact twin is pinned by tests/test_profile.py."""
    e = _read(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.round(
            F.expr("approx_percentile(value, 0.5, 10000)"), 4
        ).alias("p50_approx"),
        F.round(
            F.expr("approx_percentile(value, 0.95, 10000)"), 4
        ).alias("p95_approx"),
    )


def _q_incremental_profile(spark, sf_dir):
    """Incremental aggregate maintenance, verified by the merge law:
    split the events table into two disjoint snapshots (old corpus /
    newly-landed batch), aggregate each into mergeable partial states,
    merge, finalize — the oracle computes the same moments DIRECTLY over
    the whole table, so a green row proves merge(partial(A), partial(B))
    == direct(A ∪ B). This is how a 10^12-turn metrics table absorbs a
    new batch without re-aggregating the corpus."""
    e = _read(spark, sf_dir, "events")
    old = e.filter(F.col("event_id") % 2 == 0)
    delta = e.filter(F.col("event_id") % 2 == 1)
    merged = incremental.merge_profiles(
        "event_type",
        incremental.partial_profile(old, "event_type", "value"),
        incremental.partial_profile(delta, "event_type", "value"),
    )
    return incremental.finalize_profile(merged, "event_type")


def _q_curate(spark, sf_dir):
    """Composed training-data curation pipeline: fingerprint dedup ->
    language gate -> quality gate -> token budget (functions/curate.py).
    Returns survivors + their evidence columns."""
    d = _read(spark, sf_dir, "documents")
    out = curate.curate_corpus(
        d, langs=("en",), min_quality=0.3, min_tokens=10, max_tokens=100_000
    )
    return out.select("doc_id", "fingerprint", "lang", "n_tokens", "quality")


def _q_curate_funnel(spark, sf_dir):
    """Per-gate attrition report for the curation pipeline (each doc
    labeled with the first gate that drops it)."""
    d = _read(spark, sf_dir, "documents")
    return curate.curation_funnel(
        d, langs=("en",), min_quality=0.3, min_tokens=10, max_tokens=100_000
    )


def _q_asof_attr(spark, sf_dir):
    """Purchase->click attribution: each purchase matched to the user's
    most recent at-or-before click via the single-shuffle union+window
    as-of join (operators/temporal.py) — DuckDB's native ASOF JOIN is the
    oracle."""
    e = _read(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(p, c, ["user_id"], "ts", "ts", ["event_id", "value"])
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("event_id_right").alias("click_id"),
        F.round("value_right", 2).alias("click_value"),
    )


def _q_asof_dim(spark, sf_dir):
    """Broadcast as-of variant (small dimension timeline): each view event
    matched to the user's most recent signup — the big side never
    shuffles (plan pinned in tests/test_temporal.py)."""
    e = _read(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    s = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join_broadcast(v, s, ["user_id"], "ts", "ts", ["event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("event_id_right").alias("signup_id"),
    )


def _q_asof_skewed(spark, sf_dir):
    """Same attribution as q_asof_attr but through the hot-key-safe
    coarse-time-bucket as-of variant (operators/temporal.py
    asof_join_skewed) — semantics identical, so the same DuckDB native
    ASOF JOIN oracle must match hash-exactly."""
    e = _read(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join_skewed(
        p, c, ["user_id"], "ts", "ts", ["event_id", "value"],
        bucket_seconds=6 * 3600,
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("purchase_epoch"),
        F.col("event_id_right").alias("click_id"),
        F.round("value_right", 2).alias("click_value"),
    )


def _q_range_attr(spark, sf_dir):
    """Clicks inside a 10-minute window after any error of the same user —
    bucketized interval join (equi-join on (key, time-bucket) + exact
    filter) instead of the O(LxR) inequality join."""
    e = _read(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 600 SECONDS")).alias("w_end"),
        F.col("event_id").alias("error_id"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = range_join(clk, err, ["user_id"], "ts", "w_start", "w_end",
                     bucket_seconds=300)
    return out.select("user_id", "click_id", "error_id")


def _q_tpch_q3(spark, sf_dir):
    """TPC-H Q3 shape: shipping-priority top-10. Customer dim broadcast
    (small side), lineitem<->orders shuffle join on orderkey; date filters
    pushed to both parquet scans."""
    cutoff = "1996-06-30"
    c = _read(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = li.join(o, li.l_orderkey == o.o_orderkey).join(
        F.broadcast(c), o.o_custkey == c.c_custkey
    )
    agg = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_epoch"),
            "o_orderpriority",
            "revenue",
            "rank",
        )
    )


def _q_rollup_agg(spark, sf_dir):
    """Hierarchical totals via ROLLUP (returnflag -> linestatus -> grand
    total) — partial aggregation keeps it one shuffle."""
    li = _read(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def _q_set_ops(spark, sf_dir):
    """Set operations: engaged users (view UNION click) minus users with a
    severe error (EXCEPT/subtract)."""
    e = _read(spark, sf_dir, "events")
    engaged = (
        e.filter(F.col("event_type") == "view")
        .select("user_id")
        .union(e.filter(F.col("event_type") == "click").select("user_id"))
        .distinct()
    )
    severe = (
        e.filter((F.col("event_type") == "error") & (F.col("value") > 95))
        .select("user_id")
        .distinct()
    )
    return engaged.subtract(severe)


def _q_base64_decode(spark, sf_dir):
    """Base64 payload encode/decode roundtrip (``F.base64``/``F.unbase64``
    builtins — the ``part.get_payload(decode=True)`` analog, ref
    job_processor.py:207; SURVEY §2.3 row previously unwired)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    # Spark's base64 is MIME-chunked (CRLF every 76 chars); strip the line
    # breaks so the length matches the unchunked RFC 4648 form DuckDB emits.
    enc = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
    )
    dec = F.unbase64(enc).cast("string")
    return d.select(
        "doc_id",
        F.length(enc).alias("enc_len"),
        (dec == F.col("text")).alias("roundtrip_ok"),
        F.substring(dec, 1, 40).alias("decoded_head"),
    )


def _q_subject_prefix(spark, sf_dir):
    """Address parse + reply-subject prefix one-liners (ref
    imap_service.py:178 ``parseaddr``, job_processor.py:126 ``Re:``) over a
    derived RFC5322-ish header — SURVEY §2.5 rows, standalone + oracle-able."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    hdr = F.concat(
        F.lit("User Name <user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example>"),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(hdr, "<([^>]+)>", 1).alias("sender"),
        F.concat(F.lit("Re: "), F.col("source"), F.lit(" doc "),
                 F.col("doc_id").cast("string")).alias("reply_subject"),
    )


def _q_units_roundtrip_sql(spark, sf_dir):
    """The explode_units -> reassemble_turns operator pair under a DuckDB
    oracle: deterministic 10-word units are built from documents with
    builtins (no extraction kernel), fanned out per-unit, then reassembled
    under stable unit ordering — proving the roundtrip's ordering/joining
    semantics value-for-value (the kernel-backed twin is rows-only)."""
    d = _read(spark, sf_dir, "documents")
    w = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    d = d.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit(0).alias("partition_id"),
        w.alias("w"),
    ).filter(F.size("w") > 0)
    empty_spans = F.array().cast(SPAN_SCHEMA)
    units = F.transform(
        F.sequence(F.lit(0), F.ceil(F.size("w") / F.lit(10.0)).cast("int") - 1),
        lambda i: F.struct(
            (i + 1).cast("int").alias("unit_idx"),
            F.array_join(F.slice(F.col("w"), i * 10 + 1, 10), " ").alias(
                "unit_text"
            ),
            empty_spans.alias("spans"),
        ),
    )
    framed = d.select("conv_id", "turn_idx", "partition_id", units.alias("units"))
    out = reassemble_turns(explode_units(framed))
    return out.select("conv_id", "turn_idx", "extracted_text", "n_units")


def _q_seq_pack(spark, sf_dir):
    """Training-sequence packing (curate.sequence_pack): docs concatenated
    per source in doc_id order, cut every 2000 tokens; per-sequence
    rollup."""
    d = _read(spark, sf_dir, "documents")
    base = d.select(
        "source", "doc_id", text.token_count("text").alias("n_tok")
    )
    packed = curate.sequence_pack(
        base, "source", "doc_id", "n_tok", target_tokens=2000
    )
    return packed.groupBy("source", "seq_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based sampling (curate.hash_sample, 30%) with
    per-language stratum accounting — reproducible across engines/runs,
    unlike RNG-based df.sample."""
    d = _read(spark, sf_dir, "documents")
    kept = curate.hash_sample(d, "doc_id", numerator=3, denominator=10)
    return (
        d.withColumn("_k", kept)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("n_sampled"),
        )
        .withColumn(
            "rate", F.round(F.col("n_sampled") / F.col("n_total"), 4)
        )
    )


def _q_train_split(spark, sf_dir):
    """Deterministic train/val/test split (curate.split_assign, 80/10/10):
    a row's split is a pure function of md5(id), so it survives corpus
    growth, repartitioning, and engine changes; stratum accounting per
    language proves the assignment, not just the rates."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.withColumn("split", curate.split_assign("doc_id"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


def _q_word_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy in bits (curate.word_entropy) —
    lexical-diversity gate: one explode, two doc-keyed map-combinable
    aggregates, floor-quantized emitter."""
    return curate.word_entropy(
        _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    )


def _q_contamination(spark, sf_dir):
    """Benchmark-contamination scan (dedup.contamination_check): bigram
    overlap of every corpus doc against the deterministic benchmark slice
    (every 97th doc)."""
    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.contamination_check(d, bench, "doc_id", "text", n=2)


def _q_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/shape quality gate (curate.gopher_signals)
    over documents — word count, mean word length, top-word ratio,
    pass/fail."""
    d = _read(spark, sf_dir, "documents")
    out = curate.gopher_signals(d, "doc_id", "text")
    return out.withColumnRenamed("id", "doc_id")


def _q_rank_family(spark, sf_dir):
    """Ranking-window family beyond row_number: dense_rank / percent_rank
    / cume_dist share the ties-respecting order; ntile gets a unique
    order (ties would make its tile assignment nondeterministic)."""
    e = _read(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("n")
    )
    ties = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    uniq = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return per_user.select(
        "event_type",
        "user_id",
        "n",
        F.dense_rank().over(ties).alias("drank"),
        F.round(F.percent_rank().over(ties), 4).alias("prank"),
        F.round(F.cume_dist().over(ties), 4).alias("cdist"),
        F.ntile(4).over(uniq).alias("quartile"),
    )


def _q_semi_anti(spark, sf_dir):
    """Left semi + left anti joins: per nation, customers with at least
    one order vs customers with none (EXISTS / NOT EXISTS oracle)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").select("o_custkey")
    n = _read(spark, sf_dir, "nation")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without"))
    )
    both = semi.join(anti, "c_nationkey", "full_outer")
    return (
        both.join(F.broadcast(n), both.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


def _q_asof_forward(spark, sf_dir):
    """Forward as-of: each click matched to the user's EARLIEST at-or-after
    purchase (time-to-conversion shape) — asof_join(direction='forward')
    against DuckDB's forward ASOF comparator."""
    e = _read(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof_join(
        c, p, ["user_id"], "ts", "ts", ["event_id"], direction="forward"
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_timestamp("ts").alias("click_epoch"),
        F.col("event_id_right").alias("next_purchase_id"),
    )


def _q_levenshtein(spark, sf_dir):
    """Edit-distance + string-reversal builtins (fuzzy-matching family)
    over part names."""
    p = _read(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    name10 = F.substring("p_name", 1, 10)
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.reverse(F.col("p_name"))).alias("lev_rev"),
        F.levenshtein(name10, F.lit("promo brush")).alias("lev_ref"),
        F.reverse(name10).alias("rev10"),
    )


def _q_trailing_window(spark, sf_dir):
    """RANGE-frame window (time-based, not row-based): per event, the
    trailing-1-hour sum/count of the user's values — the sliding-metric
    family rowsBetween can't express when events are irregularly
    spaced."""
    e = _read(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("trailing_1h_value"),
        F.count("*").over(w).alias("trailing_1h_n"),
    )


def _q_top_words(spark, sf_dir):
    """Global heavy hitters: corpus-wide top-50 vocabulary terms by
    document frequency (explode -> two map-combinable aggregations ->
    global top-k). The exact baseline of a frequent-items sketch."""
    d = _read(spark, sf_dir, "documents")
    wds = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    wc = (
        d.select("doc_id", F.explode(wds).alias("word"))
        .distinct()
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    w = Window.orderBy(F.col("df").desc(), F.col("word").asc())
    return (
        wc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("word", "df", "rank")
    )


def _q_tfidf(spark, sf_dir):
    """TF-IDF top-3 terms per document (doc_id < 100): tf = in-doc count,
    idf = ln(N / df) over the WHOLE corpus. Ranking is on the ROUNDED
    score (word tie-break) so both engines agree at float boundaries."""
    d = _read(spark, sf_dir, "documents")
    n_docs = d.count()  # small deterministic scalar (one metadata-cheap job)
    wds = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    terms = d.select("doc_id", F.explode(wds).alias("word"))
    tf = terms.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_t = (
        terms.distinct().groupBy("word").agg(F.count("*").alias("df"))
    )
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(df_t, "word")
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tf", "df", "score", "rank")
    )


def _q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): 6-way join with the four
    dimension tables broadcast and the two fact tables shuffle-joined on
    orderkey; date + region filters pushed into the scans."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.groupBy("n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q6(spark, sf_dir):
    """TPC-H Q6 shape (forecast revenue change): pure filter-aggregate —
    every predicate pushes to the parquet scan, the agg is one map-side
    partial + one single-row exchange; the whole plan is one
    WholeStageCodegen span."""
    li = _read(spark, sf_dir, "lineitem")
    sel = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.round(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q10(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): fact-fact shuffle join on
    orderkey, customer enriched via broadcast, top-20 by revenue with a
    deterministic tie-break."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _read(spark, sf_dir, "nation")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


def _q_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): decorrelated EXISTS —
    the subquery becomes a LEFT SEMI join on orderkey, which Spark
    executes as a shuffled semi-join that only ships the join key from
    the lineitem side; no fact-row duplication. The synthetic lineitem
    has no commit/receipt dates, so the EXISTS predicate is the
    returned-item flag instead (same plan shape)."""
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    sel = o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
    return sel.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def _q_tpch_q12(spark, sf_dir):
    """TPC-H Q12 shape (shipping-priority split): fact-fact join on
    orderkey + conditional CASE aggregation. The synthetic lineitem has
    no shipmode, so the group key is l_linestatus (same two-sum CASE
    plan). Both sums are map-side combinable."""
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def _q_tpch_q14(spark, sf_dir):
    """TPC-H Q14 (promotion effect): broadcast the 200-row part dim, one
    single-row conditional aggregate — the promo ratio is computed from
    two map-side-combinable sums, never a second pass."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-07-01")
    )
    p = _read(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (large-volume customer): the IN-subquery over
    sum(l_quantity) is planned as aggregate -> semi-join -> re-join, with
    the qualifying-orderkey set (tiny after the HAVING) broadcast back
    against both fact tables; the big lineitem table is aggregated
    map-side first so the only wide exchange carries (orderkey, sum)."""
    li = _read(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 95)
    )
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    j = (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return j.select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice",
        F.col("total_qty").alias("sum_qty"),
    )


def _q_tpch_q19(spark, sf_dir):
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the
    brand/size/quantity disjunction stays INSIDE the join filter so
    Catalyst derives the common l_partkey = p_partkey equi-condition —
    a broadcast hash join, not a nested-loop over the disjunction."""
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(1, 25))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 20))
            & (F.col("l_quantity").between(10, 35))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 30))
            & (F.col("l_quantity").between(20, 45))
        )
    )
    return j.filter(clause).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q7(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between nation pairs): the two
    fact tables shuffle-join on orderkey; both nation lookups ride
    broadcast joins, and the pair filter collapses to two IN-filters
    pushed below the join."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n1 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nk)
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q13(spark, sf_dir):
    """TPC-H Q13 (customer order-count distribution): orders collapse to
    per-customer counts FIRST (map-side combinable, one exchange on
    custkey), then a LEFT join preserves zero-order customers, then the
    metadata-sized second aggregation builds the histogram."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n_orders"))
    j = c.join(per, c.c_custkey == per.o_custkey, "left")
    dist = j.select(
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("c_count")
    )
    return dist.groupBy("c_count").agg(F.count("*").alias("custdist"))


def _q_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier): revenue per supplier, then the scalar
    max is broadcast back as a 1-row join — no second scan of lineitem,
    ties kept like the spec's view formulation."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _read(spark, sf_dir, "supplier")
    top = rev.join(
        F.broadcast(mx), rev.total_revenue == mx.mx, "left_semi"
    )
    return top.join(
        F.broadcast(s), top.l_suppkey == s.s_suppkey
    ).select("s_suppkey", "s_name", "total_revenue")


def _q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    scalar subquery avg(l_quantity) per part is decorrelated into one
    aggregation broadcast back against the fact — the standard rewrite
    that turns a per-row rescan into a single extra exchange."""
    p = _read(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = _read(spark, sf_dir, "lineitem")
    li_b = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    )
    avg_q = li_b.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg_qty")
    )
    sel = li_b.join(F.broadcast(avg_q), "l_partkey").filter(
        F.col("l_quantity") < F.col("half_avg_qty")
    )
    return sel.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count("*").alias("n_items"),
    )


def _q_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (dormant high-balance customers): scalar
    above-average filter (1-row broadcast) + broadcast ANTI join against
    the orders key set, grouped by nation instead of the spec's phone
    prefix (no phone column in the synthetic schema)."""
    c = _read(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    # windowed dormancy: the synthetic data gives every customer at least
    # one order, so "no orders ever" is vacuous — "no orders in the recent
    # window" keeps the anti-join shape AND a non-empty answer
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    ).select("o_custkey")
    dormant = rich.join(
        o, rich.c_custkey == o.o_custkey, "left_anti"
    )
    return dormant.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


def _q_tpch_q2(spark, sf_dir):
    """TPC-H Q2 shape (minimum-cost supplier): the correlated
    min-subquery is decorrelated into a per-part best-offer aggregate
    joined back on (partkey, offer) — lineitem stands in for partsupp
    (no partsupp in the synthetic schema), with the discounted price as
    the offer. Both aggregates cluster on l_partkey, so the second agg
    and the join-back reuse the first exchange; part/supplier/nation/
    region all ride broadcasts."""
    li = _read(spark, sf_dir, "lineitem")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "offer"
        )
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("offer").alias("best_offer")
    ).withColumnRenamed("l_partkey", "bk")
    p = _read(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    j = (
        offers.join(
            best,
            (offers.l_partkey == best.bk)
            & (offers.offer == best.best_offer),
        )
        .join(F.broadcast(p), offers.l_partkey == p.p_partkey)
        .join(F.broadcast(s), offers.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return j.select(
        "p_partkey",
        "p_name",
        "s_name",
        "n_name",
        # floor-quantized: round(x, 2) flips on exact .005 boundaries
        # across engines (sf0.1: one part at 1335.035)
        (F.floor(F.col("offer") * 100) / 100).alias("best_price"),
    )


def _q_tpch_q8(spark, sf_dir):
    """TPC-H Q8 shape (national market share): one pass computes both
    the nation's volume (conditional sum) and the total volume per year,
    so the share is a single grouped aggregate — no second scan, no
    self-join. Facts shuffle-join on orderkey; all five dimensions ride
    broadcasts."""
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _read(spark, sf_dir, "customer")
    cn = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_nk"), F.col("n_regionkey").alias("cn_rk")
    )
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = _read(spark, sf_dir, "supplier")
    sn = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_nk"), F.col("n_name").alias("supp_nation")
    )
    p = _read(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_nk"))
        .join(F.broadcast(r), F.col("cn_rk") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_nk"))
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
    )
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
            / F.sum(vol),
            4,
        ).alias("mkt_share")
    )


def _q_tpch_q9(spark, sf_dir):
    """TPC-H Q9 shape (product-line profit by nation and year): profit
    uses 10% of p_retailprice as the per-unit cost stand-in for the
    missing ps_supplycost. The name LIKE filter prunes part before the
    broadcast, so the fact scan is the only large input; one grouped
    aggregate, map-side combinable."""
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    )
    return j.groupBy(
        "n_name", F.year("l_shipdate").alias("o_year")
    ).agg(F.round(F.sum(profit), 2).alias("profit"))


def _q_tpch_q11(spark, sf_dir):
    """TPC-H Q11 shape (important inventory value): grouped HAVING
    against a global-scalar threshold. The per-part aggregate is
    computed once; the corpus total re-aggregates THAT (metadata-sized
    input), and the 1-row threshold broadcasts back — lineitem is
    scanned exactly once."""
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_8")
    )
    j = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    per_part = j.groupBy("l_partkey").agg(
        F.sum("l_extendedprice").alias("raw_value")
    )
    thresh = per_part.agg(
        (F.sum("raw_value") * 0.001).alias("thresh")
    )
    return (
        per_part.join(F.broadcast(thresh))
        .filter(F.col("raw_value") > F.col("thresh"))
        .select("l_partkey", F.round("raw_value", 2).alias("value"))
    )


def _q_tpch_q16(spark, sf_dir):
    """TPC-H Q16 shape (supplier diversity per brand/type): the NOT IN
    complaint-supplier subquery becomes a broadcast ANTI join (the
    excluded key set is tiny), then count(DISTINCT l_suppkey) per
    (brand, type) — Spark plans the distinct as a two-level partial
    aggregate, no row explosion."""
    li = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_size").isin(5, 11, 23, 37))
    )
    bad = (
        _read(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).join(
        F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti"
    )
    return j.groupBy("p_brand", "p_type").agg(
        F.count_distinct("l_suppkey").alias("supplier_cnt")
    )


def _q_tpch_q20(spark, sf_dir):
    """TPC-H Q20 shape (excess-shipment suppliers): the nested IN
    subqueries collapse into aggregate -> LEFT SEMI join. The
    per-(supplier, part) quantity aggregate runs over the name-filtered
    broadcast join, its HAVING filter shrinks it to a key list, and the
    semi-join keeps supplier rows without duplicating them."""
    li = _read(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    p = _read(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    heavy = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 40)
        .select("l_suppkey")
    )
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_name", "n_name")
    )


def _q_tpch_q21(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting — the hardest
    decorrelation in the suite). The textbook form is two correlated
    self-joins on lineitem (EXISTS another supplier / NOT EXISTS another
    LATE supplier); the oracle keeps exactly that form. The Spark plan
    instead aggregates once per (orderkey, suppkey) and derives the
    order-level supplier counts with a window over orderkey — the
    fact-fact join shuffles on orderkey and EVERYTHING downstream
    (grouped agg on a superset key, window on orderkey) reuses that one
    exchange; the hash match against the EXISTS form proves the rewrite.
    'Late' = shipped >90 days after the order date (no receipt/commit
    dates in the synthetic schema)."""
    o = _read(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    lf = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
    )
    # one wide exchange for the whole tail: hash on l_orderkey ALONE
    # satisfies both the (orderkey, suppkey) group-by (subset clustering)
    # and the orderkey window; letting groupBy pick its own partitioning
    # would shuffle on (orderkey, suppkey) and force the window to
    # re-shuffle on orderkey — two exchanges of the same data
    per_supp = lf.repartition("l_orderkey").groupBy(
        "l_orderkey", "l_suppkey"
    ).agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("late_rows")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.withColumn(
        "n_supp", F.count("*").over(w)
    ).withColumn(
        "n_late_supp",
        F.count(F.when(F.col("late_rows") > 0, True)).over(w),
    )
    waiting = flagged.filter(
        (F.col("late_rows") > 0)
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    s = _read(spark, sf_dir, "supplier")
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("late_rows").alias("numwait"))
    )


def _q_line_dedup(spark, sf_dir):
    """Intra-document repeated-line removal (curate.dedup_lines): the
    documents table carries no newlines, so each doc is first recast as
    four fixed-width lines with the first chunk planted twice (same
    construction in the oracle) — the dedup itself is the engine under
    test: Spark's map-only array_distinct first-occurrence path vs the
    oracle's explode + min(pos) + ordered string_agg formulation."""
    d = _read(spark, sf_dir, "documents")
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.substring("text", 1, 40),
            F.substring("text", 81, 40),
        ).alias("text"),
    )
    return curate.dedup_lines(lined, "doc_id", "text")


def _q_hash_classifier(spark, sf_dir):
    """Hashed linear quality classifier (curate.hashed_linear_score):
    fastText-shape inference as pure column expressions — md5 token
    hash -> deterministic weight -> mean score -> boolean gate. The
    oracle recomputes the identical model in DuckDB (same md5 hex, same
    bucket arithmetic), value-hashing a model inference end to end."""
    d = _read(spark, sf_dir, "documents")
    score = curate.hashed_linear_score("text")
    return d.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("n_toks"),
        # floor-quantized (not round): round() flips on .00005 boundaries
        # across engines even on bit-identical doubles
        (F.floor(score * 10000) / 10000).alias("score"),
        (score > 0).alias("keep"),
    )


def _q_semdedup(spark, sf_dir):
    """SemDeDup (similarity.semdedup): k-means cells -> within-cell
    cosine pairs -> connected components -> keep-min-id. Rows-only:
    Lloyd means are float-sum-order reproducible only to ~1e-12, same
    as the IVF family; the invariants (partition into components,
    planted duplicates collapse) are pinned in tests/test_sessions.py."""
    e = _read(spark, sf_dir, "embeddings")
    out = similarity.semdedup(
        e, "vec_id", "embedding", n_cells=8, threshold=0.97
    )
    return out.orderBy("id")


def _q_pandas_udf_tokens(spark, sf_dir):
    """The scalar Arrow-UDF boundary, value-checked: the @pandas_udf token
    counter and the JVM-builtin twin side by side — the oracle asserts
    both equal DuckDB's regex count, proving the Arrow path is
    value-exact (the contract the extraction kernel rides on)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        udfs.token_count_arrow("text").alias("n_tokens_arrow"),
        text.token_count("text").alias("n_tokens_builtin"),
    )


def _q_grouped_zscore(spark, sf_dir):
    """The grouped-map applyInPandas boundary, value-checked: per-user
    z-score normalization vs SQL window aggregates (null when the group
    has no spread)."""
    e = _read(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    )
    out = udfs.zscore_per_group(
        e.select("user_id", "event_id", "value"), "user_id", "value"
    )
    return out.select("user_id", "event_id", "zscore")


def _q_stats_agg(spark, sf_dir):
    """Statistical aggregate family (correlation, sample covariance/
    variance, stddev) per event type — the numeric-profiling surface
    beyond counts/percentiles."""
    e = _read(spark, sf_dir, "events")
    x = F.col("value")
    y = F.unix_timestamp("ts").cast("double")
    return e.groupBy("event_type").agg(
        F.round(F.corr(x, y), 4).alias("corr_vt"),
        F.round(F.covar_samp(x, x), 4).alias("var_value"),
        F.round(F.stddev(x), 4).alias("sd_value"),
        F.round(F.avg(x), 4).alias("mean_value"),
    )


def _q_histogram(spark, sf_dir):
    """Fixed-width histogram binning (floor(value / width)) with per-bin
    counts and bounds — the value-distribution profile every data-quality
    report needs; pure integer bin keys so both engines agree exactly."""
    e = _read(spark, sf_dir, "events")
    b = F.floor(F.col("value") / F.lit(10.0)).cast("int")
    return (
        e.withColumn("bin", b)
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("bin_min"),
            F.round(F.max("value"), 4).alias("bin_max"),
        )
    )


def _q_bloom_antijoin(spark, sf_dir):
    """Bloom-prefiltered anti-join (operators/bloom.py): events of users
    with no big purchase (value > 90). The 100 TB resume story — the seen
    set is too big to broadcast, so a fixed-size bitmap built with a
    distributed bit_or prefilters the probe MAP-SIDE and only candidates
    shuffle for exact verification. Results are exact (no false
    negatives), hence a plain NOT EXISTS oracle."""
    from png_from_pdf_extracter_spark.operators import bloom_anti_join

    e = _read(spark, sf_dir, "events")
    seen = e.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 90)
    ).select("user_id")
    unseen_events = bloom_anti_join(e, seen, "user_id", n_bits=1 << 16)
    return unseen_events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_perplexity(spark, sf_dir):
    """Unigram-LM perplexity per document (functions/lm.py) — the
    CCNet/Gopher perplexity-filter stage, scored against the corpus' own
    unigram distribution so it stays oracle-exact."""
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.unigram_perplexity(d)


def _q_forward_fill(spark, sf_dir):
    """Gap-fill / forward-fill: carry each user's last purchase value
    forward onto every subsequent event (``last(..., ignorenulls=True)``
    over an ordered window) — the state-propagation primitive behind
    slowly-updating attributes. Tie-broken on event_id so both engines
    see one deterministic ordering."""
    e = _read(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("filled", F.last(v, ignorenulls=True).over(w))
        .filter(F.col("user_id") < 20)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.round(F.col("filled"), 4).alias("last_purchase_value"),
        )
    )


def _q_incr_dedup(spark, sf_dir):
    """Incremental corpus dedup: drop NEW documents whose content
    fingerprint already exists in the ingested corpus — the cross-run
    composition of ``text.fingerprint`` and the Bloom-prefiltered
    anti-join (at 10^12 docs the seen-fingerprint set is way past
    broadcast size; the bitmap prefilter keeps the new batch's shuffle
    bounded to candidates). Exact despite the probabilistic prefilter."""
    from png_from_pdf_extracter_spark.operators import bloom_anti_join

    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 250)
    # the new batch: novel docs + a whitespace-mangled re-ingest slice of
    # the old corpus (fingerprint-equal after normalization) — so the
    # oracle proves duplicates actually get DROPPED, not just grouped
    reingest = old.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "), F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    new = d.filter(F.col("doc_id") >= 250).unionByName(reingest)
    fresh = bloom_anti_join(
        new.withColumn("fp", text.fingerprint("text")),
        old.select(text.fingerprint("text").alias("fp")),
        "fp",
        n_bits=1 << 16,
    )
    return fresh.groupBy("lang").agg(
        F.count("*").alias("n_new_unique"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _q_materialize_mix(spark, sf_dir):
    """Materialize a uniform training-data mix (curate.materialize_mix):
    per-source keep rates derived from the largest feasible budget
    (bottleneck source keeps all), deterministic md5 ppm-threshold
    selection; reported per source as kept counts + achieved chars."""
    d = _read(spark, sf_dir, "documents")
    kept = curate.materialize_mix(d, "source", "n_chars")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


def _q_temperature_mix(spark, sf_dir):
    """Temperature-resampled mix (curate.materialize_mix alpha=0.5):
    target shares ∝ T_s^0.5 — the mBERT/XLM-R exponent sampler that
    damps big sources and boosts small ones; reported per source."""
    d = _read(spark, sf_dir, "documents")
    kept = curate.materialize_mix(d, "source", "n_chars", alpha=0.5)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


def _q_minhash_incr_dedup(spark, sf_dir):
    """Cross-run NEAR-dup dedup (dedup.minhash_incremental_dedup): the
    new batch — novel docs + a whitespace-mangled re-ingest slice
    (shingle-identical after tokenization, so every band collides) — is
    probed against the ingested corpus' occupied LSH buckets; planted
    re-ingests are provably dropped. Asymmetric: no old x old or
    new x new pairs are ever formed."""
    d = _read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 250)
    reingest = old.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "), F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    new = d.filter(F.col("doc_id") >= 250).unionByName(reingest)
    kept = dedup.minhash_incremental_dedup(old, new, "doc_id", "text")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _q_winsorize(spark, sf_dir):
    """Winsorization: clamp values to the exact interpolated [p05, p95]
    of their group (``percentile`` = SQL-standard continuous quantile,
    DuckDB ``quantile_cont``) — the outlier-taming stage of numeric
    feature pipelines. Group stats are one combinable aggregate,
    broadcast back; the clamp is map-side."""
    e = _read(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clamped = e.join(F.broadcast(stats), "event_type").withColumn(
        "w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    )
    return clamped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum((F.col("value") < F.col("p05")).cast("int")).alias("n_lo"),
        F.sum((F.col("value") > F.col("p95")).cast("int")).alias("n_hi"),
        F.round(F.avg("w"), 4).alias("mean_winsorized"),
        F.round(F.min("p05"), 4).alias("p05"),
        F.round(F.min("p95"), 4).alias("p95"),
    )


def _q_psi_drift(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the events timeline, per event_type (functions/drift.py) — the
    distribution-drift gate a weekly ingest runs before promoting a
    snapshot. Buckets by the BASE half's rounded decile edges."""
    from png_from_pdf_extracter_spark.functions.drift import psi_drift

    e = _read(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    base = e.filter(F.col("ts") < cut).select("event_type", "value")
    cur = e.filter(F.col("ts") >= cut).select("event_type", "value")
    return psi_drift(base, cur, "value", "event_type")


def _q_expectations(spark, sf_dir):
    """Deequ-style dataset contract verification: seven declared checks
    over the documents table verified in ONE aggregation pass
    (functions/expectations.py); the report is stack-unpivoted from the
    single-row aggregate — N checks never cost N scans."""
    from png_from_pdf_extracter_spark.functions.expectations import (
        Check,
        expectation_report,
    )

    d = _read(spark, sf_dir, "documents")
    return expectation_report(
        d,
        [
            Check("non_empty"),
            Check("complete", "text"),
            Check("complete", "lang"),
            Check("unique", "doc_id"),
            Check("min_ge", "n_chars", value=0),
            Check("max_le", "n_chars", value=1_000_000),
            Check("in_set", "lang", values=("en", "de", "fr", "es", "zh")),
            Check("mean_between", "n_chars", value=10, value2=100_000),
        ],
    )


def _q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier detection (modified z-score, Iglewicz &
    Hoaglin |0.6745*(x-med)/MAD| > 3.5) — the robust twin of the
    mean/stddev z-score (q_grouped_zscore) and winsorize stages: immune
    to the very outliers it hunts. Two combinable group aggregates
    (median, then median absolute deviation), each broadcast back;
    the flag is map-side. Exact interpolated ``percentile`` ≡ DuckDB
    ``quantile_cont`` (the equivalence q_winsorize already pins)."""
    e = _read(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad"), F.min("med").alias("med")
    )
    z = F.abs(F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"))
    return (
        e.join(F.broadcast(mad), "event_type")
        .withColumn("mz", F.round(z, 4))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("mz") > 3.5).cast("int")).cast("long").alias(
                "n_outliers"
            ),
            F.round(F.min("med"), 4).alias("med"),
            F.round(F.min("mad"), 4).alias("mad"),
            F.round(F.max("mz"), 4).alias("max_mz"),
        )
    )


def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-Res): key = u^(1/w) with u a seeded md5-derived uniform and
    w = n_chars; top-k keys per source win. One window per stratum — the
    quality-weighted subsampling stage of corpus curation, reproducible
    across runs/engines because u comes from a hash, not an RNG."""
    d = _read(spark, sf_dir, "documents")
    # u in (0,1]: 12 hex chars = 48 bits of md5, +1 to avoid u=0
    u = (
        F.conv(F.substring(F.md5(F.concat_ws("|", "doc_id", "source")), 1, 12),
               16, 10).cast("double") + F.lit(1.0)
    ) / F.lit(float(2 ** 48))
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    w = Window.partitionBy("source").orderBy(
        F.col("skey").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("skey", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "source", "doc_id", "n_chars",
            F.round("skey", 6).alias("skey"), "rank",
        )
    )


def _q_funnel_steps(spark, sf_dir):
    """Conversion funnel: per user, first signup -> earliest purchase at
    or after it, rolled up by signup month — equi-join on user with a
    range predicate (no cross join), both aggregates map-side
    combinable. The product-analytics twin of the curation funnel."""
    e = _read(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    firstp = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("signup_ts")),
            "left",
        )
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("first_purchase_ts"))
    )
    # whole-second epochs on BOTH engines (oracle: floor(epoch(..)));
    # the tz offset a session may apply to NTZ timestamps cancels in the
    # difference, so the lag is tz-invariant
    lag_s = F.unix_timestamp("first_purchase_ts") - F.unix_timestamp(
        "signup_ts"
    )
    # DATE on both engines: DuckDB's date_trunc('month') narrows to DATE
    # while Spark's stays TIMESTAMP — cast so the canonical forms agree
    return firstp.groupBy(
        F.to_date(F.date_trunc("month", "signup_ts")).alias("cohort_month")
    ).agg(
        F.count("*").alias("n_signups"),
        F.count("first_purchase_ts").alias("n_converted"),
        F.round(
            F.count("first_purchase_ts") / F.count("*"), 4
        ).alias("conv_rate"),
        F.round(F.avg(lag_s), 2).alias("avg_secs_to_convert"),
    )


def _q_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics every dedup-on-nullable-key job
    silently needs; a plain equi-join drops the NULL group."""
    e = _read(spark, sf_dir, "events")
    k = F.nullif(F.col("event_type"), F.lit("error")).alias("k")
    l = e.filter(F.col("event_id") % 2 == 0).select(k, "value")
    r = (
        e.filter(F.col("event_id") % 2 == 1)
        .select(k)
        .groupBy("k")
        .agg(F.count("*").alias("n_right"))
        .withColumnRenamed("k", "rk")
    )
    return (
        l.join(r, l["k"].eqNullSafe(r["rk"]))
        .groupBy("k")
        .agg(
            F.count("*").alias("n_left"),
            F.min("n_right").alias("n_right"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def _q_ntile_deciles(spark, sf_dir):
    """Equal-frequency binning: ntile(10) over order value (orderkey
    tie-break makes the assignment deterministic), rolled up to per-decile
    count / bounds / volume — the quantile-bucket profile used for price
    banding and stratified splits."""
    o = _read(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").asc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
            F.round(F.sum("o_totalprice"), 2).alias("volume"),
        )
    )


# ---- rows-only (non-SQL-expressible) ----


def _attach_recall(spark, sf_dir, ann, k):
    """Attach ``recall_at_k`` (per query, vs the exact brute-force cosine
    baseline) to an ANN result — the round-2 verdict's #6: the driver's
    rows-only CORRECTNESS row now carries ANN QUALITY in its values, not
    just plan shape. Exact side is tiny (5 queries x k) and broadcast;
    floors pinned in tests/test_sessions.py::test_ann_queries_embed_recall."""
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(e, q, k=k).select(
        "query_id", "neighbor_id"
    )
    hits = ann.join(
        F.broadcast(exact), ["query_id", "neighbor_id"], "left_semi"
    )
    rec = hits.groupBy("query_id").agg(
        (F.count("*") / F.lit(float(k))).alias("recall_at_k")
    )
    return ann.join(F.broadcast(rec), "query_id", "left").na.fill(
        0.0, ["recall_at_k"]
    )


def _q_ann_ivf(spark, sf_dir):
    """IVF approximate top-k (coarse-quantizer cells + nprobe rerank) —
    approximate by design (cell recall), so rows-only; the exact baseline
    is q_knn_cosine. Each row embeds its query's recall@5 vs that
    baseline."""
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.ivf_topk(e, q, k=5, n_cells=16, nprobe=2)
    return _attach_recall(spark, sf_dir, out, k=5)


def _q_embed_neardup_lsh(spark, sf_dir):
    """LSH-bucketed embedding near-dup — approximate by design (bucket
    recall), so rows-only; exactness is covered by q_embed_near_dup."""
    e = _read(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(e, threshold=0.35)

def _q_extract_flagship(spark, sf_dir):
    """The extraction kernel itself (the pandas UDF over ``text``) — not
    SQL-expressible (the kernel is the 'reference extractor'); correctness
    is gated by the tier-2 per-turn equality suite in tests/ instead."""
    params = JobParams(n_buckets=16, num_partitions=8)
    transcripts = generate_transcripts(spark, GenConfig(n_convs=60))
    out = extract_turns(spark, transcripts, params)
    return out.select(
        "conv_id", "turn_idx", "status", "error_class", "extracted_text"
    )


def _q_extract_units_roundtrip(spark, sf_dir):
    """Explode->window-reassembly roundtrip over extraction units. The
    ``spans`` struct array is serialized with ``to_json`` — the driver's
    canonicalizer sorts result rows with pandas and chokes on list-typed
    cells (the round-1 ERR), and a JSON string survives both the sort and
    the value hash."""
    params = JobParams(n_buckets=16, num_partitions=8)
    transcripts = generate_transcripts(spark, GenConfig(n_convs=40))
    extracted = extract_turns(spark, transcripts, params)
    out = reassemble_turns(explode_units(extracted))
    return out.select(
        "conv_id",
        "turn_idx",
        "extracted_text",
        F.to_json("spans").alias("spans_json"),
        "n_units",
    )


def _q_media_features(spark, sf_dir):
    """Multimodal plumbing with the deterministic fake decoder (stub).
    ``feature`` is array<float> — serialized to JSON for the driver's
    row-sort canonicalizer (round-1 ERR fix)."""
    out = multimodal.extract_media_features(multimodal.synth_media(spark, 64))
    return out.select(
        "media_id",
        "kind",
        "n_bytes",
        "digest",
        F.to_json("feature").alias("feature_json"),
        "status",
        "error_class",
    )


def _q_media_frames(spark, sf_dir):
    """Video frame sampling: 1:N mapInPandas fan-out (stub frame decoder),
    rolled up per video — the per-page PNG enumeration analog."""
    media = multimodal.synth_media(spark, 64)
    frames = multimodal.sample_frames(media, every_ms=5000, max_frames=6)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


def _q_image_stats(spark, sf_dir):
    """REAL in-container image decode, value-checked: pure-stdlib PNG
    decode (zlib inflate + scanline unfilter, no PIL) of the synthetic
    gradient fixtures -> geometry + integer-exact pixel stats. The oracle
    recomputes the same stats in closed-form SQL because the fixture
    pixels are a pure function of (media_id, x, y) (``_synth_png``) — so
    what the value-hash pins is the DECODER itself. Reference analog: the
    real PNG production of pdf_converter.py:50-160."""
    out = multimodal.image_stats(multimodal.synth_media(spark, 60))
    return out.select(
        "media_id", "width", "height", "channels",
        "px_mean", "px_min", "px_max", "status", "error_class",
    )


def _q_audio_stats(spark, sf_dir):
    """REAL in-container audio decode, value-checked: pure-stdlib WAV
    decode (functions/wavcodec.py — RIFF chunk walk + struct PCM
    unpack, no audio libs) of the synthetic waveform fixtures ->
    format + integer-exact amplitude stats. The oracle recomputes the
    same stats in closed-form SQL because the samples are a pure
    function of (media_id, t) (``_synth_wav``) — so the value-hash
    pins the DECODER itself, the q_image_stats move applied to the
    audio leg. Reference analog: the binary media transformation of
    pdf_converter.py:50-160."""
    return multimodal.audio_stats(multimodal.synth_media(spark, 60))


def _q_video_stats(spark, sf_dir):
    """REAL in-container video decode, value-checked: pure-stdlib Y4M
    decode (functions/y4mcodec.py — header parse + raw luma planes) of
    the synthetic bitstream fixtures -> one row per frame with
    integer-exact luma stats. Frames are a pure function of
    (media_id, frame, x, y) (``_synth_y4m``), so the closed-form SQL
    oracle pins the DECODER — image (r3), audio (r4) and now video all
    run real decode in-container. Reference analog: the per-page PNG
    enumeration of pdf_converter.py:141-158."""
    return multimodal.video_stats(multimodal.synth_media(spark, 60))


def _q_scene_cuts(spark, sf_dir):
    """Shot-boundary detection over REAL decoded Y4M video
    (multimodal.scene_cuts): per consecutive-frame mean absolute luma
    difference with the integer-exact floor-4dp quantization, cut flag
    at MAD > 52. The synthetic frames are a pure function of
    (media_id, frame, x, y), so the consecutive-frame diff — and thus
    the DECODER feeding it — is pinned by a closed-form SQL oracle,
    like q_video_stats. is_cut rides as INT 0/1: a NULLABLE BOOLEAN
    canonicalizes as None on the Spark side but NaN on the DuckDB side
    (numeric nulls collapse to NaN on both)."""
    return multimodal.scene_cuts(multimodal.synth_media(spark, 60)).withColumn(
        "is_cut", F.col("is_cut").cast("int")
    )


def _q_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate ANN — the 100 TB path; approximate by design
    so no exact SQL oracle (recall depends on bucketing). Each row embeds
    its query's recall@5 vs the exact baseline."""
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.lsh_bucket_topk(e, q, k=5, n_planes=4, n_tables=8)
    return _attach_recall(spark, sf_dir, out, k=5)


def _q_sql_surface(spark, sf_dir):
    """The spark.sql(...) entry point itself — the same engine drives a
    pure ANSI-SQL string over temp views (CTE + window + join + agg in
    one statement), proving the SQL surface is first-class next to the
    DataFrame DSL. The text is dialect-shared with the DuckDB oracle."""
    _read(spark, sf_dir, "documents").createOrReplaceTempView("v_documents")
    _read(spark, sf_dir, "events").createOrReplaceTempView("v_events")
    return spark.sql("""
        WITH top_docs AS (
          SELECT source, doc_id, n_chars,
                 row_number() OVER (
                   PARTITION BY source ORDER BY n_chars DESC, doc_id
                 ) AS rn
          FROM v_documents
        ),
        ev AS (
          SELECT event_type, count(*) AS n_events,
                 round(avg(value), 4) AS avg_value
          FROM v_events GROUP BY event_type
        )
        SELECT t.source, t.doc_id, t.n_chars, t.rn,
               e.event_type, e.n_events, e.avg_value
        FROM top_docs t
        CROSS JOIN ev e
        WHERE t.rn <= 2 AND e.event_type = 'click'
    """)


def _q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_topk): 32x-compressed
    codes + per-query ADC lookup tables + exact rerank of the shortlist —
    the memory-bounded 100 TB ANN path next to LSH buckets and IVF cells.
    Approximate by design (quantization error), so rows-only; recall is
    pinned in tests/test_sessions.py and embedded per row in the
    artifact."""
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.pq_topk(
        e, q, k=5, m=16, ksub=64, iterations=3, rerank=4
    )
    return _attach_recall(spark, sf_dir, out, k=5)


def _q_ann_ivfpq(spark, sf_dir):
    """IVF+PQ composition (similarity.ivfpq_topk — the FAISS IVFADC
    shape): coarse cells prune candidates via a cell equi-join, PQ codes
    compress the scoring to ADC lookups, exact rerank restores recall.
    Rows-only (approximate by design); recall pinned in tests and
    embedded per row in the artifact."""
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.ivfpq_topk(
        e, q, k=5, n_cells=16, nprobe=4, m=16, ksub=64, iterations=3,
        rerank=4,
    )
    return _attach_recall(spark, sf_dir, out, k=5)


def _q_pii_scrub(spark, sf_dir):
    """PII redaction pass — the scrub every training corpus needs before
    release: emails -> <EMAIL>, phones -> <PHONE>, IPv4 -> <IP>, with
    per-doc redaction counts (regexp_count) for the audit trail. The
    synthetic corpus carries no PII, so each doc is framed with derived
    addresses (same framing in the oracle). Map-only: stays inside
    whole-stage codegen, no shuffle at all."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    framed = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" re: "),
            F.substring("text", 1, 60),
        ).alias("t"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+1-555-[0-9]{4}"
    ip_re = r"\b10\.0\.[0-9]{1,3}\.[0-9]{1,3}\b"
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ),
        ip_re,
        "<IP>",
    )
    return framed.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(ip_re)).alias("n_ips"),
        F.substring(scrubbed, 1, 80).alias("scrubbed_head"),
    )


def _q_corpus_diff(spark, sf_dir):
    """Incremental-ingest snapshot diff: two corpus versions are derived
    deterministically (v2 drops doc_id%11==3, adds nothing new here but
    mangles text for doc_id%7==0), full-outer-joined on doc_id, and every
    doc classified added/removed/changed/unchanged by normalized
    fingerprint — the change-data report an incremental 100 TB pipeline
    emits per ingest. One shuffle (the join); the classify+count is
    map-side combinable."""
    d = _read(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.filter((F.col("doc_id") % 13) != 5)
    v2 = d.filter((F.col("doc_id") % 11) != 3).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 0,
            F.concat(F.col("text"), F.lit(" [edited]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    f1 = v1.select("doc_id", text.fingerprint("text").alias("fp1"))
    f2 = v2.select("doc_id", text.fingerprint("text").alias("fp2"))
    j = f1.join(f2, "doc_id", "full_outer")
    cls = (
        F.when(F.col("fp1").isNull(), "added")
        .when(F.col("fp2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(cls.alias("change"))
        .groupBy("change")
        .agg(F.count("*").alias("n_docs"))
    )


def _q_domain_cap(spark, sf_dir):
    """Per-source quota cap (curate.cap_per_group): at most 5 docs per
    source, best-first by (n_chars desc, doc_id) — the hot-domain cap a
    training mix needs. Spark >= 3.5 plans the rn<=k filter as
    WindowGroupLimit (partial top-k before the shuffle), so the exchange
    carries O(sources x k) rows per map task at any corpus size."""
    d = _read(spark, sf_dir, "documents")
    kept = curate.cap_per_group(
        d, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], k=5
    )
    return kept.select("source", "doc_id", "n_chars", "rn")


def _q_retention_cohort(spark, sf_dir):
    """Cohort retention matrix over events: users grouped by first-seen
    day, distinct actives per (cohort_day, day_offset). Two map-side
    combinable aggregations (min-per-user, then count-distinct via an
    exact pre-distinct) — no windows, no skew hazard.

    Timezone note: events.ts is parquet timestamp WITHOUT
    isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ — ``to_date`` on
    NTZ never consults the session timezone, and DuckDB's
    ``CAST(ts AS DATE)`` truncates the same naive wall time, so the
    day-boundary oracle holds under any driver timezone. If this table
    ever becomes an instant (LTZ) column, both sides must pin a zone."""
    e = _read(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = (
        e.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
        )
        .distinct()
    )
    return (
        act.groupBy("cohort_day", "day_offset")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
            "n_users",
        )
    )


def _q_url_extract(spark, sf_dir):
    """URL/domain extraction and per-domain counts — regexp_extract_all
    -> explode -> groupBy. The synthetic corpus carries no URLs, so each
    doc is deterministically framed with two derived URLs (same framing
    in the oracle) to give the extraction teeth. Map-only until one
    combinable count shuffle."""
    d = _read(spark, sf_dir, "documents")
    framed = d.select(
        F.concat(
            F.lit("see https://"),
            F.col("source"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://mirror-"),
            F.col("lang"),
            F.lit(".example.org/x ref "),
            F.substring("text", 1, 40),
        ).alias("t")
    )
    domains = F.explode(
        F.regexp_extract_all(F.col("t"), F.lit(r"https?://([A-Za-z0-9.-]+)"), 1)
    )
    return (
        framed.select(domains.alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n_refs"))
    )


def _q_vector_stats(spark, sf_dir):
    """Per-label embedding geometry report: L2-norm stats via
    ``F.aggregate`` over the array (JVM higher-order function, no UDF).
    The double accumulator runs in array order on both engines, so
    min/max are bit-exact and the avg is stable to the 1e-4 rounding."""
    e = _read(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norms = e.select(
        "label",
        F.sqrt(sq).alias("norm"),
        F.element_at("embedding", 1).cast("double").alias("c0"),
    )
    return norms.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.min("norm"), 4).alias("min_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
        F.round(F.avg("norm"), 4).alias("avg_norm"),
        F.round(F.avg("c0"), 4).alias("avg_c0"),
    )


def _q_dedup_ratio(spark, sf_dir):
    """Per-source duplication-rate report over the mangled re-ingest
    union (the dedup family's summary/reporting face): docs seen,
    distinct normalized fingerprints, dup ratio. Exactly one combinable
    shuffle (count-distinct pre-aggregates on (source, fp))."""
    d = _read(spark, sf_dir, "documents")
    re = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
        "source",
    )
    u = d.select("doc_id", "text", "source").unionByName(re)
    fp = u.select("source", text.fingerprint("text").alias("fp"))
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 4
        ).alias("dup_ratio"),
    )


def _q_unicode_normalize(spark, sf_dir):
    """Unicode NFC normalization (udfs.nfc_normalize pandas UDF — Spark
    has no NFC builtin) vs DuckDB's native nfc_normalize. Decomposed
    text (combining acute, U+0301) is derived per-doc so composition
    visibly shortens it; byte-dedup correctness at scale depends on
    normalizing first."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    decomposed = F.concat(
        F.lit("cafe"),
        F.lit("́"),
        F.lit(" "),
        F.substring("text", 1, 40),
        F.lit(" re"),
        F.lit("́"),
        F.lit("sume"),
        F.lit("́"),
    )
    framed = d.select("doc_id", decomposed.alias("t"))
    return framed.select(
        "doc_id",
        F.length("t").alias("len_before"),
        F.length(udfs.nfc_normalize("t")).alias("len_after"),
        udfs.nfc_normalize("t").alias("normalized"),
    )


def _q_merge_upsert(spark, sf_dir):
    """MERGE INTO (operators/merge.py merge_upsert) — the warehouse
    mutating write the reference's append-only SMTP sink never needed
    (smtp_service.py:94-152) but a re-ingesting corpus does. Target =
    orders; change set derived deterministically: keys %7 update (price
    +1000, status U), %13 delete, %17 insert under shifted keys. One
    full-outer shuffle; the broadcast map-only variant is plan-pinned in
    tests/test_merge.py. Oracle replays the same MERGE semantics as a
    FULL OUTER JOIN + CASE in DuckDB."""
    from png_from_pdf_extracter_spark.operators import merge_upsert

    o = _read(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    updates = o.filter((F.col("k") % 7) == 0).select(
        "k",
        F.lit("U").alias("status"),
        (F.col("price") + F.lit(1000.0)).alias("price"),
        F.lit(False).alias("deleted"),
    )
    deletes = o.filter(((F.col("k") % 13) == 0) & ((F.col("k") % 7) != 0)).select(
        "k",
        F.lit("X").alias("status"),
        F.lit(0.0).alias("price"),
        F.lit(True).alias("deleted"),
    )
    inserts = o.filter((F.col("k") % 17) == 0).select(
        (F.col("k") + 10_000_000).alias("k"),
        F.lit("N").alias("status"),
        F.lit(1.0).alias("price"),
        F.lit(False).alias("deleted"),
    )
    src = updates.unionByName(deletes).unionByName(inserts)
    return merge_upsert(
        o, src, ["k"], delete_col="deleted", check_cardinality=False
    )


def _q_scd2(spark, sf_dir):
    """SCD Type-2 dimension history (operators/merge.py scd2_apply):
    current customer segments + one update batch (keys %3: half no-op,
    half changed; %11: brand-new keys) -> closed-out rows, new current
    rows, untouched history. The oracle unions the same three branches
    off a FULL OUTER JOIN. Shuffle sized |current|+|updates| — history
    passes through map-only."""
    from png_from_pdf_extracter_spark.operators import scd2_apply

    c = _read(spark, sf_dir, "customer")
    dim = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = (
        c.filter((F.col("c_custkey") % 3) == 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when((F.col("c_custkey") % 2) == 0, F.col("c_mktsegment"))
            .otherwise(F.lit("CHANGED"))
            .alias("seg"),
            F.lit(5).alias("effective_ts"),
        )
        .unionByName(
            c.filter((F.col("c_custkey") % 11) == 0).select(
                (F.col("c_custkey") + 1_000_000).alias("k"),
                F.lit("NEW").alias("seg"),
                F.lit(5).alias("effective_ts"),
            )
        )
    )
    return scd2_apply(
        dim, upd, ["k"], ["seg"], "effective_ts", check_cardinality=False
    )


def _q_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank, 3 unrolled iterations (functions/
    graph.py) over a deterministic directed graph derived from orders
    (o_custkey -> o_orderkey % 1500). All rank arithmetic is scaled
    BIGINT with integer division, so the result is bit-exact across
    engines — the trick that makes an iterative float algorithm
    oracle-checkable. Per iteration: one join + one aggregate shuffle."""
    from png_from_pdf_extracter_spark.functions.graph import (
        pagerank_fixed_point,
    )

    o = _read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank_fixed_point(edges, iters=3)


def _q_hits(spark, sf_dir):
    """HITS hubs & authorities, 2 unrolled iterations (functions/graph.py
    hits) over the same deterministic orders-derived graph as q_pagerank.
    Unnormalized integer scores — the per-round L2 normalizer is a global
    positive scalar that cannot change rankings, so dropping it makes the
    iterative algorithm exactly oracle-checkable (BIGINT end to end)."""
    from png_from_pdf_extracter_spark.functions.graph import hits

    o = _read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return hits(edges, iterations=2)


def _q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights for data selection (hashed unigram
    importance of a target domain vs the raw corpus — Xie et al.'s Data
    Selection with Importance Resampling, bucketed-n-gram form): tokens
    hash into 1024 md5 buckets; per-bucket importance = smoothed
    target/raw count ratio; per-doc weight = mean bucket importance of
    its tokens. Ratios are kept in scaled-integer space (x1e6, integer
    division) so the cross-engine hash is exact — production would take
    log-ratios; the swap is one expression. Two combinable aggregates +
    one broadcast-size lookup join."""
    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("tok"),
    )
    b = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % 1024
    ).alias("b")
    tb = toks.select("doc_id", "lang", b)
    raw = tb.groupBy("b").agg(F.count("*").alias("n_raw"))
    tgt = (
        tb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("n_tgt"))
    )
    lut = raw.join(tgt, "b", "left").select(
        "b",
        F.expr("((coalesce(n_tgt, 0) + 1) * 1000000) div (n_raw + 1)").alias(
            "lr"
        ),
    )
    return (
        tb.join(F.broadcast(lut), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("lr").alias("w_sum"))
        .select(
            "doc_id", "n_toks", F.expr("w_sum div n_toks").alias("w_avg")
        )
    )


def _q_url_canonical(spark, sf_dir):
    """URL canonicalization + blocklist gate — the crawl-side dedup
    precondition (the same URL arrives as http/https, with/without www,
    query strings, fragments, trailing slashes). Each doc is framed with
    a deterministically-noised URL, canonicalized with pure regexp
    builtins, blocked domains anti-joined away, and distinct canonical
    URLs counted per domain. Map-only until one count shuffle."""
    d = _read(spark, sf_dir, "documents")
    noisy = d.select(
        "doc_id",
        F.concat(
            F.when((F.col("doc_id") % 2) == 0, F.lit("HTTPS://WWW."))
            .otherwise(F.lit("http://")),
            F.col("source"),
            F.lit(".Example.COM/d/"),
            (F.col("doc_id") % 100).cast("string"),
            F.when((F.col("doc_id") % 3) == 0, F.lit("/")).otherwise(
                F.lit("")
            ),
            F.when((F.col("doc_id") % 5) == 0, F.lit("?utm_source=x&ref=y"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") % 7) == 0, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    canon = F.regexp_replace(  # strip trailing slash last
        F.regexp_replace(  # drop query + fragment
            F.regexp_replace(  # scheme + www off, lowercase host via lower()
                F.lower("url"), r"^https?://(www\.)?", ""
            ),
            r"[?#].*$",
            "",
        ),
        r"/$",
        "",
    )
    canon_df = noisy.select(
        canon.alias("curl"),
        F.regexp_extract(canon, r"^([^/]+)", 1).alias("domain"),
    )
    blocklist = spark.createDataFrame(
        [("src0.example.com",), ("src7.example.com",)], ["domain"]
    )
    return (
        canon_df.join(F.broadcast(blocklist), "domain", "left_anti")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("curl").alias("n_canonical"),
        )
    )


def _q_cms_freq(spark, sf_dir):
    """Count-min sketch (functions/sketch.py): the mergeable bounded-state
    frequency sketch next to the exact heavy-hitters query — at 100 TB the
    distinct-term state is the problem, the CMS caps it at depth x width
    cells. All-integer md5 cell hashing makes the sketch AND its estimates
    bit-exact across engines, so the oracle rebuilds the identical sketch
    in DuckDB. Estimates for the exact top-20 tokens, overestimate-only by
    construction. One combinable sketch aggregate + one tiny broadcast."""
    from png_from_pdf_extracter_spark.functions import sketch as sk

    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("tok")
    )
    cms = sk.cms_build(toks, "tok", depth=4, width=512)
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact"))
    w = Window.orderBy(F.desc("exact"), F.asc("tok"))
    top = (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    est = sk.cms_estimate(cms, top, "tok", depth=4, width=512)
    return est.join(
        top.select(F.col("tok").alias("item"), "exact"), "item"
    ).select("item", "est", "exact")


def _q_skew_join(spark, sf_dir):
    """Generalized big-big skewed equi-join (operators/salting.py
    salted_equi_join): one planted hot key holds a third of the left
    side; left rows salt deterministically, hot right rows replicate
    once per salt, so the hot key runs on salt_buckets tasks instead of
    pinning one. The oracle is the PLAIN join — the hash match proves
    the salted plan is a pure physical rewrite."""
    from png_from_pdf_extracter_spark.operators import salted_equi_join

    o = _read(spark, sf_dir, "orders")
    left = o.select(
        F.when((F.col("o_orderkey") % 3) == 0, F.lit("HOT"))
        .otherwise(
            F.concat(F.lit("k"), (F.col("o_custkey") % 97).cast("string"))
        )
        .alias("key"),
        F.col("o_orderkey").alias("lv"),
    )
    c = _read(spark, sf_dir, "customer")
    right = (
        c.filter((F.col("c_custkey") % 97) < 40)
        .select(
            F.concat(F.lit("k"), (F.col("c_custkey") % 97).cast("string"))
            .alias("key")
        )
        .distinct()
        .unionByName(spark.createDataFrame([("HOT",)], ["key"]))
        .withColumn("rtag", F.length("key"))
    )
    j = salted_equi_join(left, right, "key", ["HOT"], salt_buckets=8)
    return j.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum("lv").alias("sum_lv"),
        F.max("rtag").alias("rtag"),
    )


def _q_grouping_cube(spark, sf_dir):
    """CUBE grouping sets over orders (status x priority): all four
    grouping combinations in ONE pass — Spark plans a single Expand +
    aggregate, not four scans. The grouping indicator is derived as
    (a IS NULL)*2 + (b IS NULL) on both sides to dodge engine-specific
    GROUPING_ID bit conventions (cols are non-null, so NULL means
    'rolled up')."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            "o_orderstatus",
            "o_orderpriority",
            (
                F.when(F.col("o_orderstatus").isNull(), 2).otherwise(0)
                + F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)
            ).alias("gid"),
            "n",
            "total",
        )
    )


def _q_inverted_index(spark, sf_dir):
    """Inverted index build (term -> document-frequency + ordered posting
    head) — the search-side artifact of an extraction pipeline. Postings
    are collect_set -> sort_array -> slice(10) so the stored list is
    bounded per term regardless of corpus size; terms below df>=20 are
    dropped (index pruning). Two combinable shuffles: distinct(doc,term),
    then the per-term aggregate."""
    d = _read(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda t: F.length(t) > 2,
                )
            )
        ).alias("term"),
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, 10
                ).cast("array<string>"),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 20)
    )


def _q_minhash_dedup_apply(spark, sf_dir):
    """END-TO-END MinHash dedup: pairs -> connected components -> keep
    min-id survivor per cluster -> anti-join the corpus
    (dedup.apply_dedup). The oracle rebuilds the identical pipeline:
    recursive-CTE closure over the same pair table, then NOT IN."""
    d = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.apply_dedup(d, pairs).select(
        "doc_id", "source", "lang", "n_chars"
    )


def _q_bpe_pairs(spark, sf_dir):
    """One BPE tokenizer-training iteration: top-20 adjacent-symbol merge
    candidates over the word-frequency table (lm.bpe_merge_stats) —
    integer counts, deterministic tie-break, oracle-exact."""
    from png_from_pdf_extracter_spark.functions import lm

    return lm.bpe_merge_stats(_read(spark, sf_dir, "documents"))


def _q_bpe_train(spark, sf_dir):
    """Iterative BPE tokenizer training (8 merges) — rows-only: the loop
    is iterative-by-nature (each round's winner feeds the next), not
    SQL-expressible; rank-1 equals the oracle-checked q_bpe_pairs top
    pair, and the full merge sequence is hand-verified in
    tests/test_lm.py."""
    from png_from_pdf_extracter_spark.functions import lm

    return lm.bpe_train(_read(spark, sf_dir, "documents"), n_merges=8)


def _q_bpe_encode(spark, sf_dir):
    """APPLY the trained tokenizer: per-doc BPE token counts under an
    8-merge vocab learned from the same corpus (lm.bpe_encode — the vocab
    trick keeps the Python boundary vocab-sized). Rows-only: the per-word
    merge loop is iterative, not SQL-expressible; hand-computed encodings
    pinned in tests/test_lm.py."""
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    merges = [
        (r["a"], r["b"])
        for r in lm.bpe_train(d, n_merges=8).orderBy("rank").collect()
    ]
    return lm.bpe_encode(d, merges)


def _q_dup_spans(spark, sf_dir):
    """Exact substring-dedup SPANS (Lee et al. 2021 ExactSubstr, the
    rolling-window-hash distributed form — dedup.duplicate_spans):
    8-token runs occurring 2+ times corpus-wide, first occurrence kept,
    every other occurrence reported as a maximal (doc, token-span) cut.
    Text is capped at 4000 chars in BOTH engines so the oracle's
    fixed-range window enumeration stays bounded."""
    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.substring("text", 1, 4000).alias("text"))
    )
    return dedup.duplicate_spans(d, window=8, min_count=2)


def _q_dup_spans_apply(spark, sf_dir):
    """APPLY side of ExactSubstr dedup (dedup.remove_duplicate_spans):
    cut the q_dup_spans token spans and rebuild every doc's text from the
    surviving tokens (lowercase token contract). One per-doc span
    aggregate + one equi-join + a map-side array filter; the oracle
    rebuilds the identical pipeline and string_aggs kept tokens in
    position order."""
    d = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.substring("text", 1, 4000).alias("text"))
    )
    spans = dedup.duplicate_spans(d, window=8, min_count=2)
    return dedup.remove_duplicate_spans(d, spans)


def _q_bm25(spark, sf_dir):
    """BM25 top-20 docs for a 3-term query (search.bm25_topk, Lucene
    idf, k1=1.2 b=0.75): query-term filter BEFORE the tf shuffle, scalar
    (N, avgdl) broadcast, TakeOrderedAndProject top-k — no global window
    over the match set. Rounded-score ranking, doc-id tie-break."""
    return search.bm25_topk(
        _read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        top_k=20,
    )


def _q_bigram_perplexity(spark, sf_dir):
    """Bigram-LM perplexity with add-one smoothing (functions/lm.py) —
    one order up the KenLM ladder from q_perplexity; all counts are
    integers so the DuckDB oracle reproduces the model exactly."""
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.bigram_perplexity(d)


def _q_repetition(spark, sf_dir):
    """Gopher/MassiveText repeated-n-gram repetition gate: per-doc
    duplicate- and top-{2,3}-gram fractions + combined pass flag
    (curate.repetition_signals). n-grams formed map-side from array
    slices — no join, no window."""
    return curate.repetition_signals(
        _read(spark, sf_dir, "documents")
    ).withColumnRenamed("id", "doc_id")


def _q_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-language head/middle/tail
    terciles of the unigram-LM perplexity (ntile over a deterministic
    order), rolled up to bucket stats — the standard split used to
    stage quality-weighted sampling of web data."""
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    ppl = lm.unigram_perplexity(d).join(d.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    lab = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.ntile(3).over(w),
    )
    return (
        ppl.withColumn("bucket", lab)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("ppl"), 1).alias("min_ppl"),
            F.round(F.max("ppl"), 1).alias("max_ppl"),
        )
    )


def _q_embed_covariance(spark, sf_dir):
    """Distributed one-pass covariance matrix of the embedding column
    (similarity.embedding_covariance — mapInPandas BLAS partials, O(dim^2)
    shuffle keys). Upper triangle, floor-quantized 1e-6 (cross-engine
    float-sum order)."""
    e = _read(spark, sf_dir, "embeddings")
    c = similarity.embedding_covariance(e, "vec_id", "embedding")
    return c.select(
        "d1",
        "d2",
        (F.floor(F.col("cov") * 1000000) / 1000000).alias("cov_q"),
    ).orderBy("d1", "d2")


def _q_pca_whiten(spark, sf_dir):
    """PCA-whitening of the embedding column (similarity.pca_whiten —
    covariance partials -> driver eigh (dim^2 bounded) -> folded-constant
    projection in JVM builtins), rolled up to per-dim variance of the
    whitened output (== 1 by construction; identity-covariance pinned in
    tests/test_similarity_stats.py). Rows-only: eigendecomposition is not
    SQL-expressible.

    Every row also embeds ``max_abs_cov_dev`` (r4 verdict #6, the
    ``recall_vs_exact`` pattern): the max absolute deviation of the
    whitened output's FULL sample covariance (upper triangle via
    embedding_covariance's O(dim²) partial-gram fold) from the
    identity — whitening's defining property, so the driver's
    rows-only check observes the transform actually whitened, not
    just that per-dim variances line up. Ceiling asserted in
    tests/test_sessions.py."""
    e = _read(spark, sf_dir, "embeddings")
    w = similarity.pca_whiten(e, "vec_id", "embedding").persist()
    dev = (
        similarity.embedding_covariance(w, "vec_id", "whitened")
        .agg(
            F.max(
                F.abs(
                    F.col("cov")
                    - F.when(
                        F.col("d1") == F.col("d2"), F.lit(1.0)
                    ).otherwise(F.lit(0.0))
                )
            ).alias("dev")
        )
        .first()[0]
    )
    return (
        w.select(F.posexplode("whitened").alias("d", "x"))
        .groupBy("d")
        .agg(
            F.count("*").alias("n_vecs"),
            (F.floor(F.var_samp("x") * 1000) / 1000).alias("var_q"),
        )
        .withColumn(
            "max_abs_cov_dev", F.lit(round(float(dev), 9))
        )
        .orderBy("d")
    )


def _q_pmi_bigrams(spark, sf_dir):
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.pmi_bigrams(d, min_count=5, top_k=50)


def _q_zipf_fit(spark, sf_dir):
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.zipf_fit(d, top_k=100)


def _q_jsd_split(spark, sf_dir):
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.js_divergence(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


def _q_edit_distance(spark, sf_dir):
    """Levenshtein near-dup pairs on part names (dedup.edit_distance_pairs
    — prefix-block equi-join + length bound, JVM levenshtein verify),
    rolled up per distance: pair rows explode ~quadratically inside dup
    blocks (3.1M at sf0.1) so the value check rides on the (dist,
    n_pairs, id_sum) rollup instead of the raw pair table."""
    p = _read(spark, sf_dir, "part")
    pairs = dedup.edit_distance_pairs(
        p, "p_partkey", "p_name", max_dist=2, block_len=10
    )
    return (
        pairs.groupBy("dist")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("id1") + F.col("id2")).alias("id_sum"),
        )
        .orderBy("dist")
    )


def _q_event_transitions(spark, sf_dir):
    ev = _read(spark, sf_dir, "events")
    from png_from_pdf_extracter_spark.operators import event_transitions

    return event_transitions(ev, order_cols=("event_id",))


def _q_chi2_terms(spark, sf_dir):
    from png_from_pdf_extracter_spark.functions import lm

    d = _read(spark, sf_dir, "documents")
    return lm.chi2_terms(d, class_col="lang", min_count=5, top_k=50)


def _q_trend_per_group(spark, sf_dir):
    """Per-event-type value trend: OLS slope of value ~ time-in-days.
    Epoch must keep MICROSECONDS on both engines: Spark's unix_timestamp
    truncates to whole seconds while DuckDB's epoch() is fractional —
    NTZ -> timestamp (session tz is UTC, the driver's config) ->
    cast-to-double is the micros-exact twin of epoch()."""
    ev = _read(spark, sf_dir, "events")
    day = F.col("ts").cast("timestamp").cast("double") / F.lit(86400.0)
    return (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(F.col("value"), day), 6).alias(
                "slope_per_day"
            ),
        )
        .orderBy("event_type")
    )


def _q_price_histogram(spark, sf_dir):
    """Equi-width 20-bin histogram of order totals: min/max scalar
    broadcast, map-side bucket assignment, map-combinable counts. Only
    order-independent aggregates (count/min/max) are emitted — identical
    expression tree both engines, no float-sum order exposure."""
    o = _read(spark, sf_dir, "orders")
    s = F.broadcast(
        o.agg(
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )
    )
    bucket = F.least(
        F.floor(
            (F.col("o_totalprice") - F.col("mn"))
            / ((F.col("mx") - F.col("mn")) / 20)
        ),
        F.lit(19),
    ).cast("int")
    return (
        o.crossJoin(s)
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


def _q_ab_test(spark, sf_dir):
    """Two-proportion z-test between deterministic user arms (user_id
    parity): did arm A convert (>=1 purchase over 150) more than arm B?
    (Every user has SOME purchase in the synthetic data — the value
    threshold keeps the pooled proportion off the degenerate 0/1 edge
    where the z denominator vanishes.) All margins integer-derived
    per-user flags; z is one identical float expression both engines
    (rounded 6dp)."""
    ev = _read(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 150),
                    1,
                ).otherwise(0)
            ).alias("conv")
        )
        .withColumn("arm", (F.col("user_id") % 2).cast("int"))
    )
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p1 = F.col("conv_a") / F.col("n_a")
    p2 = F.col("conv_b") / F.col("n_b")
    pp = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1 / F.col("n_a") + 1 / F.col("n_b"))
    )
    return m.select(
        "n_a", "conv_a", "n_b", "conv_b", F.round(z, 6).alias("z")
    )


def _q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth: token count vs distinct-TRIGRAM
    count over 10 nested corpus subsets (doc_id % 10 < k —
    deterministic, order-free nesting), plus the log-log Heaps exponent
    via regr_slope over the 10 integer-derived points. Trigrams, not
    unigrams: the synthetic generator draws from a fixed 31-word list,
    so the unigram curve saturates immediately (and a constant y makes
    regr_slope float-noise around +/-0.0 — sign-normalized with + 0.0
    anyway). One explode feeds all subsets (conditional aggregates, no
    per-k scans)."""
    from png_from_pdf_extracter_spark.functions.lm import _tokens

    w = _tokens("text")
    s1 = F.slice(w, 1, F.size(w) - 2)
    s2 = F.slice(w, 2, F.size(w) - 2)
    s3 = F.slice(w, 3, F.size(w) - 2)
    tri = F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat(a, F.lit(" "), b)),
        s3,
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    d = _read(spark, sf_dir, "documents")
    terms = d.filter(F.size(w) >= 3).select(
        (F.col("doc_id") % 10).alias("m"),
        F.explode(tri).alias("word"),
    )
    # per (word, m): then per word the MINIMAL m bucket it appears in —
    # vocab at subset k = words with min_m < k; tokens at k = cumulative
    per_word = terms.groupBy("word").agg(
        F.min("m").alias("first_m"), F.count("*").alias("n_all")
    )
    tok_per_m = terms.groupBy("m").agg(F.count("*").alias("n_tok"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    vocab = (
        ks.join(per_word, F.col("first_m") < F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("vocab"))
    )
    tokens = (
        ks.join(tok_per_m, F.col("m") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    pts = vocab.join(tokens, "k").select(
        "k", "n_tokens", "vocab",
        F.log2("n_tokens").alias("x"), F.log2("vocab").alias("y"),
    )
    slope = pts.agg(
        # + 0.0 collapses IEEE -0.0 to 0.0 (a constant-y corpus rounds
        # regr_slope's float noise to a signed zero that renders
        # differently across engines)
        (F.round(F.regr_slope("y", "x"), 4) + F.lit(0.0)).alias(
            "heaps_beta"
        )
    )
    return (
        pts.select("k", "n_tokens", "vocab")
        .crossJoin(F.broadcast(slope))
        .orderBy("k")
    )


def _q_ks_drift(spark, sf_dir):
    from png_from_pdf_extracter_spark.functions import drift

    ev = _read(spark, sf_dir, "events")
    return drift.ks_statistic(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        quantize=2,
    )


def _q_classifier_auc(spark, sf_dir):
    """Quality-classifier evaluation: ROC-AUC (Mann-Whitney rank-sum,
    exact BIGINT numerator — functions/evalmetrics.py) + confusion
    counts at threshold 0 of the hashed linear classifier
    (curate.hashed_linear_score) against a planted label (lang='en'),
    stratified by source. One window exchange + two combinable
    aggregates joined on the tiny group key."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    auc = evalmetrics.roc_auc(scored, "score", "y", group_cols=("source",))
    conf = evalmetrics.confusion_counts(
        scored, F.col("score") > 0, "y", group_cols=("source",)
    )
    return auc.join(F.broadcast(conf), "source")


def _q_triangles(spark, sf_dir):
    """Per-node triangle counts on the orders-derived graph (same edge
    derivation as q_pagerank) via degree-ordered orientation
    (functions/graph.py triangle_count) — the hub-safe algorithm whose
    wedge fan-out is bounded O(sqrt(|E|)) per node; the oracle
    enumerates the identical triangle set with the naive canonical
    a<b<c three-way join."""
    from png_from_pdf_extracter_spark.functions.graph import triangle_count

    o = _read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return triangle_count(edges)


def _q_readability(spark, sf_dir):
    """Flesch reading-ease readability gate (functions/text.py
    flesch_reading_ease — vowel-group syllable estimator, floor-4dp
    score) with a banded difficulty class; map-only, whole-stage
    codegen, the shape of every corpus-wide readability filter."""
    d = _read(spark, sf_dir, "documents")
    fre = text.flesch_reading_ease("text")
    return d.select(
        "doc_id",
        F.size(F.filter(text.words("text"), lambda t: F.length(t) > 0))
        .cast("long")
        .alias("n_words"),
        text.sentence_count("text").alias("n_sentences"),
        text.syllable_count("text").alias("n_syllables"),
        fre.alias("flesch"),
        F.when(fre >= 60, F.lit("easy"))
        .when(fre >= 30, F.lit("medium"))
        .when(fre.isNotNull(), F.lit("hard"))
        .alias("band"),
    )


def _q_chunk_sliding(spark, sf_dir):
    """Sliding-window RAG chunking (curate.chunk_sliding, size=50
    stride=40 -> 10-token overlap): map-side tokenize -> sequence ->
    explode -> slice, zero shuffles; chunk md5 fingerprints feed
    chunk-level dedup downstream."""
    d = _read(spark, sf_dir, "documents")
    return curate.chunk_sliding(d, size=50, stride=40)


def _q_embed_quantize(spark, sf_dir):
    """int8 scalar quantization + reconstruction-error report over the
    embeddings table (similarity.scalar_quantize): max-abs symmetric
    scaling, floor(x+0.5) rounding (engine-agnostic on .5 boundaries),
    order-independent emitters (BIGINT code checksum, max-abs error)."""
    e = _read(spark, sf_dir, "embeddings")
    return similarity.scalar_quantize(e)


def _q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (search.rrf_fuse, k=60)
    of the BM25 top-20 lexical ranking (same 3-term query as q_bm25)
    with the exact cosine top-20 dense ranking for query vector 0
    (vec_id joins doc_id — the synthetic tables share the id space).
    The fused window is bounded by the two candidate lists."""
    docs = _read(spark, sf_dir, "documents")
    emb = _read(spark, sf_dir, "embeddings")
    lex = search.bm25_topk(
        docs, ["vector", "stream", "merge"], top_k=20
    ).select("doc_id", "rank")
    dense = (
        similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=20
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return search.rrf_fuse(lex, dense, k=60)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination APPLY (dedup.decontaminate): drop every
    doc sharing a bigram shingle with the q_contamination benchmark
    slice (every 97th doc), roll survivors up per source. min_shared=25
    keeps the gate non-vacuous at BOTH check scales (sf0.01 drops
    33/500, sf0.1 drops 4012/5000 — common bigrams make >=1 shared
    shingle true for every doc). The drop set is hit-sized; the corpus
    anti-joins once."""
    d = _read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    kept = dedup.decontaminate(
        d, bench, "doc_id", "text", n=2, min_shared=25
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _q_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard>=0.8 similarity join via prefix filtering
    (dedup.jaccard_prefix_join — SSJoin/PPJoin): only each doc's rarest
    ~20% of shingles generate candidates, no DF ceiling needed; the
    oracle computes the naive all-shared-shingle join, so the hash
    match PROVES the prefix filter loses no pairs."""
    d = _read(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_join(
        d, "doc_id", "text", n=3, threshold=0.8
    )


def _q_skew_report(spark, sf_dir):
    """Per-event-type key-skew diagnostics over events.user_id
    (operators/salting.py skew_report): row/key counts, hottest-key
    share, Gini of the per-key distribution (BIGINT rank identity),
    and the integer hot_factor that sizes `salted_repartition`."""
    from png_from_pdf_extracter_spark.operators.salting import skew_report

    ev = _read(spark, sf_dir, "events")
    return skew_report(ev, "user_id", group_cols=("event_type",))


def _q_ndcg(spark, sf_dir):
    """Retrieval-quality NDCG@10 (evalmetrics.ndcg_at_k): exact cosine
    top-10 for query vectors 0-4, binary relevance = neighbor shares
    the query's class label; DCG/IDCG as order-pinned array folds
    (never a float SUM aggregate), floor-6dp."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    e = _read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return evalmetrics.ndcg_at_k(judged, k=10)


def _q_bfs_hops(spark, sf_dir):
    """Multi-source BFS 3-hop reachability (graph.bfs_hops) from seed
    nodes <10 over the orders-derived graph — frontier join + min
    combine per hop, exact integers; oracle is a recursive CTE."""
    from png_from_pdf_extracter_spark.functions.graph import bfs_hops

    o = _read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    seeds = edges.select(F.col("src").alias("node")).filter(
        F.col("node") < 10
    )
    return bfs_hops(edges, seeds, max_hops=3)


def _q_calibration(spark, sf_dir):
    """Classifier reliability diagram (evalmetrics.calibration_bins):
    the hashed linear score vs the lang='en' label in 10 equal-width
    bins over [-1,1]; pos_rate exact rational, mean_score rebuilt from
    the BIGINT sum of the 4dp-quantized scores (order-independent)."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        curate.hashed_linear_score("text").alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return evalmetrics.calibration_bins(scored, "score", "y", n_bins=10)


def _q_boilerplate_strip(spark, sf_dir):
    """C4-style corpus-frequent line removal (curate.boilerplate_strip)
    on a constructed input: every 3rd doc gets a planted newsletter
    header line, every 5th a copyright footer (the synthetic docs are
    single-line, so boilerplate is planted the same way the dedup
    queries plant re-ingests). max_line_df=2 strips exactly the planted
    lines; originals (line DF 1) survive byte-identically. clean_text
    is emitted as md5 to keep the value hash cheap."""
    d = _read(spark, sf_dir, "documents")
    header = "JOIN OUR NEWSLETTER TODAY"
    footer = "COPYRIGHT 2026 ALL RIGHTS RESERVED"
    planted = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit(header + "\n"))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + footer))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = curate.boilerplate_strip(planted, max_line_df=2)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_kept",
        "n_dropped",
    )


def _q_source_similarity(spark, sf_dir):
    """Pairwise cosine similarity between per-source term-frequency
    vectors (curate.source_similarity): BIGINT dot products and squared
    norms, sqrt(n1)*sqrt(n2) denominator (sqrt of the product would
    overflow BIGINT at scale), floor-6dp."""
    d = _read(spark, sf_dir, "documents")
    return curate.source_similarity(d)


def _q_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average of the event value signal
    (operators/temporal.py time_weighted_avg): unix_micros BIGINT
    timestamps (no seconds truncation), 2dp value quantization sized so
    every product stays under 2^63, one window + one aggregate on the
    same exchange."""
    from png_from_pdf_extracter_spark.operators.temporal import (
        time_weighted_avg,
    )

    ev = _read(spark, sf_dir, "events")
    return time_weighted_avg(ev, ("user_id",), "ts", "value")


def _q_weighted_median(spark, sf_dir):
    """Exact token-weighted median of document length per language
    (functions/stats.py weighted_quantile): the n_chars value below
    which half the corpus TOKENS sit — integer cumulative weights, the
    quantile given as a rational, zero float comparisons."""
    from png_from_pdf_extracter_spark.functions.stats import (
        weighted_quantile,
    )

    d = _read(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.col("n_chars").alias("len_chars"),
        text.token_count("text").alias("w"),
    )
    return weighted_quantile(
        base, "len_chars", "w", group_cols=("lang",)
    )


def _q_rendezvous_shard(spark, sf_dir):
    """Rendezvous (HRW) shard assignment of documents to 8 shards
    (operators/salting.py rendezvous_shard) rolled up per shard —
    map-only array_max over (score, shard) structs, no explode/join;
    the minimal-movement invariant is pinned in tests/test_skew.py."""
    from png_from_pdf_extracter_spark.operators.salting import (
        rendezvous_shard,
    )

    d = _read(spark, sf_dir, "documents")
    shards = [f"s0{i}" for i in range(8)]
    return (
        rendezvous_shard(d, "doc_id", shards)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("doc_id").alias("sum_doc"),
        )
    )


def _q_mann_whitney(spark, sf_dir):
    """Two-sample Mann-Whitney U between the BUILDING and MACHINERY
    customer segments on account balance (functions/stats.py
    mann_whitney_u): integer 2U statistics from per-distinct-value
    counts (window bounded by value cardinality, not rows), AUC
    effect size floor-6dp. u2_a + u2_b == 2*n_a*n_b pinned in tests."""
    from png_from_pdf_extracter_spark.functions.stats import mann_whitney_u

    c = _read(spark, sf_dir, "customer")
    return mann_whitney_u(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_spearman(spark, sf_dir):
    """Spearman rank correlation (tie-corrected, exact doubled-rank
    integers accumulated in DECIMAL(38,0)) between order totalprice and
    the ordering customer's account balance (functions/stats.py
    spearman_corr) — rank maps per distinct quantized value, one float
    expression at the end."""
    from png_from_pdf_extracter_spark.functions.stats import spearman_corr

    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_totalprice", "c_acctbal"
    )
    return spearman_corr(j, "o_totalprice", "c_acctbal")


def _q_autocorr(spark, sf_dir):
    """Per-user lag-1 autocorrelation of the event value signal
    (functions/stats.py autocorr_lag1): one lead() window + Pearson
    sums on the SAME user_id exchange, exact BIGINT sums, r1 floor-6dp.
    Stable order = (ts, event_id)."""
    from png_from_pdf_extracter_spark.functions.stats import autocorr_lag1

    ev = _read(spark, sf_dir, "events")
    return autocorr_lag1(ev, ("user_id",), ("ts", "event_id"), "value")


def _q_ewma(spark, sf_dir):
    """Per-user exponentially-weighted moving average (α=1/4 dyadic) of
    event values under (ts, event_id) order (operators/temporal.py
    ewma): JVM-side sort_array(collect_list) + aggregate fold, bounded
    by per-key sequence length; bit-reproducible vs the DuckDB
    recursive-CTE oracle because both fold identical doubles through
    the identical expression in the identical order."""
    from png_from_pdf_extracter_spark.operators.temporal import ewma

    ev = _read(spark, sf_dir, "events")
    return ewma(ev, ("user_id",), ("ts", "event_id"), "value")


def _q_kn_perplexity(spark, sf_dir):
    """Per-document interpolated Kneser-Ney bigram perplexity
    (functions/lm.py kn_bigram_perplexity, d=3/4): continuation-count
    smoothing — the estimator KenLM-style production filters ship —
    from the same one-pass bigram count tables as q_bigram_perplexity;
    integer model quantities, rounded emits."""
    from png_from_pdf_extracter_spark.functions.lm import (
        kn_bigram_perplexity,
    )

    d = _read(spark, sf_dir, "documents")
    return kn_bigram_perplexity(d)


def _q_running_distinct(spark, sf_dir):
    """Cumulative distinct event types per user as of each event
    (functions/stats.py running_distinct): exact first-occurrence-flag
    decomposition of the COUNT(DISTINCT) running frame no engine
    supports natively — two hash-keyed windows, no single-partition
    stage."""
    from png_from_pdf_extracter_spark.functions.stats import (
        running_distinct,
    )

    ev = _read(spark, sf_dir, "events")
    return running_distinct(
        ev, ("user_id",), ("ts", "event_id"), "event_type"
    ).select("user_id", "event_id", "n_distinct")


def _q_attribution(spark, sf_dir):
    """Last-touch conversion attribution over the events stream
    (operators/sessions.py last_touch_attribution): purchases credited
    to the latest preceding non-purchase touch via one ignorenulls
    last() window, channel rollup after — no self-join."""
    from png_from_pdf_extracter_spark.operators.sessions import (
        last_touch_attribution,
    )

    ev = _read(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", ("ts", "event_id"), "event_type", "purchase"
    )


def _q_changepoint(spark, sf_dir):
    """Exact single-changepoint per user on the event value signal
    (functions/stats.py changepoint_single): argmax of between-segment
    contrast from BIGINT prefix sums, smallest-k tie-break — all
    windows on one user_id exchange."""
    from png_from_pdf_extracter_spark.functions.stats import (
        changepoint_single,
    )

    ev = _read(spark, sf_dir, "events")
    return changepoint_single(
        ev, ("user_id",), ("ts", "event_id"), "value"
    )


def _q_interval_union(spark, sf_dir):
    """Per-user union of overlapping activity intervals [ts, ts +
    value seconds] (operators/temporal.py interval_union): classic
    gaps-and-islands on BIGINT unix_micros endpoints, every window and
    aggregate on one user_id exchange; covered_us counts overlaps
    once."""
    from png_from_pdf_extracter_spark.operators.temporal import (
        interval_union,
    )

    ev = _read(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (
            F.timestamp_micros(
                F.unix_micros(F.col("ts").cast("timestamp"))
                + (F.round(F.col("value"), 0).cast("long") * 1000000)
            )
        ).alias("end_ts"),
    )
    return interval_union(iv, ("user_id",), "start_ts", "end_ts")


def _q_benford(spark, sf_dir):
    """First-significant-digit distribution of order totalprice vs
    Benford's law (functions/stats.py benford_digits): leading digit
    taken from the quantized BIGINT's decimal string (libm-proof),
    expected shares as exact embedded constants, chi2 per digit row."""
    from png_from_pdf_extracter_spark.functions.stats import benford_digits

    o = _read(spark, sf_dir, "orders")
    return benford_digits(o, "o_totalprice", ())


def _q_kcore(spark, sf_dir):
    """4-core of a SPARSE orders-derived graph (functions/graph.py
    k_core): modulus = n_orders/3 keeps mean degree ~6 at every scale,
    so the peel genuinely cascades (3-7 rounds measured at
    sf0.001-0.1) and a nonempty core survives. Iterative peel of
    degree<4 nodes — peeled-count convergence check before any join,
    then two broadcast anti-joins on the vanishing peeled set.
    ORACLED since r4 (r3 verdict #6): peeling removes rows, so it is
    not a monotone recursive CTE — instead the DuckDB oracle unrolls
    16 peel rounds as chained CTEs (rounds past the fixpoint are
    no-ops, so the unroll IS the fixpoint while convergence <= 16;
    observed max 7 with the margin asserted in tests/test_graph.py).
    The defining invariant (every survivor has degree >= k within the
    survivor set) and planted-graph pins also live there."""
    from png_from_pdf_extracter_spark.functions.graph import k_core

    o = _read(spark, sf_dir, "orders")
    mod = o.count() // 3
    edges = (
        o.select(
            (F.col("o_orderkey") % mod).alias("id1"),
            ((F.col("o_orderkey") * 7 + F.col("o_custkey")) % mod).alias(
                "id2"
            ),
        )
        .filter(F.col("id1") != F.col("id2"))
        .distinct()
    )
    return k_core(edges, k=4)


def _q_rolling_median(spark, sf_dir):
    """Exact rolling lower median of the event value over the trailing
    5 events per user (functions/stats.py rolling_median): per-frame
    sorted-array pick on quantized BIGINTs — no averaging, hash-exact;
    frame bounded by the constant window width."""
    from png_from_pdf_extracter_spark.functions.stats import rolling_median

    ev = _read(spark, sf_dir, "events")
    return rolling_median(
        ev, ("user_id",), ("ts", "event_id"), "value", window_rows=5
    ).select("user_id", "event_id", "med_q")


def _q_mom_growth(spark, sf_dir):
    """Month-over-month revenue growth per order priority: BIGINT cent
    revenue sums per (priority, month), lag window per priority,
    growth rate floor-6dp — the period-over-period report every
    warehouse runs."""
    o = _read(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(
            "o_orderpriority",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        F.col("o_orderpriority").alias("priority"),
        "month",
        "rev_cents",
        F.when(
            prev > 0,
            F.floor(
                (F.col("rev_cents") - prev) / prev.cast("double") * 1e6
            )
            / 1e6,
        ).alias("mom_growth"),
    )


def _q_gini_scoped(spark, sf_dir):
    """Per-language source concentration (stats.gini_concentration
    with scope_cols): the mix-balance diagnostic per stratum — one row
    per language, rank window partitioned by scope."""
    from png_from_pdf_extracter_spark.functions.stats import (
        gini_concentration,
    )

    d = _read(spark, sf_dir, "documents")
    return gini_concentration(
        d, "source", "n_chars", scope_cols=("lang",)
    )


def _q_median_survival(spark, sf_dir):
    """Median time-to-convert from the Kaplan-Meier curve
    (functions/stats.py kaplan_meier downstream): the smallest
    duration where survival drops to <= 0.5 — the single number a
    conversion report quotes; NULL-free because the q_kaplan_meier
    cohort always converts past half."""
    km = _q_kaplan_meier(spark, sf_dir)
    half = km.filter(F.col("survival_q") <= 0.5).agg(
        F.min("duration").alias("median_duration")
    )
    tot = km.agg(
        F.count("*").cast("long").alias("n_times"),
        F.sum(F.col("d_events") + F.col("c_censored"))
        .cast("long")
        .alias("n_obs"),
    )
    return tot.crossJoin(F.broadcast(half))


def _q_dedup_best_rep(spark, sf_dir):
    """Quality-aware dedup apply (dedup.apply_dedup_best): same MinHash
    pair table as q_minhash_dedup_apply, but each near-dup cluster
    keeps its HIGHEST-n_chars member (ties to min id) — "keep the
    cleanest copy", the production refinement of keep-min-id."""
    d = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.apply_dedup_best(d, pairs, "n_chars").select(
        "doc_id", "source", "lang", "n_chars"
    )


def _q_tfidf_cosine(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity (dedup.tfidf_cosine_pairs):
    inverted-index self-join on the term key with integer-quantized
    weights — exact DECIMAL dot products, one float emit per pair;
    df > 1000 terms dropped pre-join (the hot-key guard); 0.4 sim floor."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        tfidf_cosine_pairs,
    )

    d = _read(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(d, min_sim_ppm=400_000)


def _q_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution (graph.markov_attribution):
    event types as channels, 'purchase' as the absorbing conversion —
    credit = how much P(convert) drops when the channel is removed.
    Rows-only by design (absorbing-chain solve on the channels²-bounded
    transition matrix; no SQL oracle) — hand-computed chains pinned in
    tests/test_graph.py."""
    from png_from_pdf_extracter_spark.functions.graph import (
        markov_attribution,
    )

    ev = _read(spark, sf_dir, "events")
    return markov_attribution(
        ev, "user_id", ("ts", "event_id"), "event_type", "purchase"
    )


def _q_holt(spark, sf_dir):
    """Holt linear (double-exponential) smoothing per user
    (operators/temporal.py holt_linear): level + trend + one-step
    forecast of the event value series — ewma's bit-reproducible
    dyadic-coefficient fold extended with a trend state; the DuckDB
    twin is a two-state recursive CTE."""
    from png_from_pdf_extracter_spark.operators.temporal import (
        holt_linear,
    )

    ev = _read(spark, sf_dir, "events")
    return holt_linear(ev, ("user_id",), ("ts", "event_id"), "value")


def _q_wasserstein(spark, sf_dir):
    """Exact 1-D Wasserstein-1 drift (drift.wasserstein_1d) between
    purchase and view event-value distributions: the integral of
    |F_a - F_b| as an exact DECIMAL integer until one final division
    — reports HOW FAR the mass moved, in value units."""
    from png_from_pdf_extracter_spark.functions.drift import (
        wasserstein_1d,
    )

    ev = _read(spark, sf_dir, "events")
    return wasserstein_1d(
        ev, "value", "event_type", "purchase", "view", quantize=2
    )


def _q_negative_sample(spark, sf_dir):
    """Deterministic uniform negative sampling for contrastive pairs
    (curate.negative_sample): synthetic (anchor, positive) pairs over
    the dense doc-id universe, 4 negatives per anchor from md5 slot
    draws — reproducible across runs/engines/partitionings."""
    from png_from_pdf_extracter_spark.functions.curate import (
        negative_sample,
    )

    d = _read(spark, sf_dir, "documents")
    n = d.count()
    pairs = d.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("anchor_id"),
        ((F.col("doc_id") * 7 + 1) % F.lit(n)).alias("pos_id"),
    )
    return negative_sample(pairs, n_items=n, k=4)


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining (similarity.hard_negatives): per query
    vector, the top-5 most-similar embeddings with a DIFFERENT label —
    the margin-teaching negatives; label filter below the rank window
    so positives never crowd the top-k."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        hard_negatives,
    )

    emb = _read(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return hard_negatives(emb, q, k=5)


def _q_mutual_nn(spark, sf_dir):
    """Mutual nearest-neighbor matching (similarity.mutual_nn_pairs):
    even-id vs odd-id embedding halves as the two 'corpora'; a pair
    survives only when each side is the other's cosine top-1 — the
    bitext-mining candidate filter. Exact baseline (both directed
    passes broadcast); production path runs the same join shape over
    IVF candidates."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        mutual_nn_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    return mutual_nn_pairs(left, right)


def _q_mutual_nn_ivf(spark, sf_dir):
    """The 100-TB mutual-NN shape (r3 verdict #1): IVF generates directed
    candidate pairs, the mutual filter runs over them via id-keyed
    equi-joins — no side is broadcast whole. Rows-only by design
    (candidate recall depends on cell assignment); every row embeds
    ``recall_vs_exact`` so the artifact records QUALITY, not just shape.
    Floor pinned in tests/test_sessions.py.

    The recall AUDIT is sampled (r4 verdict #4: the previous inline
    full-exact baseline made this query's bench time measure exact +
    approx, not the production path it exists to showcase): ground
    truth is computed only for a deterministic 1/4 of left anchors —
    but mutuality is still judged against the FULL halves (l→r top-1
    over all of right; each hit's r→l top-1 over all of left), so the
    sampled pairs are true members of the exact mutual set, not a
    truth on shrunken corpora. Cost drops from 2·N² to ~2·(N/4)·N
    while the estimate stays unbiased (every exact pair's anchor is
    sampled with equal probability)."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        cosine_topk,
        ivf_topk,
        mutual_nn_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    cand = ivf_topk(right, left, k=3, n_cells=8, nprobe=3).select(
        F.col("query_id").alias("left_id"),
        F.col("neighbor_id").alias("right_id"),
    )
    # the final plan reads the materialized approx table, so the
    # driver's collect doesn't recompute the IVF (r3 verdict #2
    # persist discipline)
    approx = mutual_nn_pairs(left, right, candidates=cand).persist()
    in_sample = lambda c: F.crc32(c.cast("string")) % 4 == 0  # noqa: E731
    ls = left.filter(in_sample(F.col("vec_id")))
    l2r = cosine_topk(right, ls, k=1).select(
        F.col("query_id").alias("left_id"),
        F.col("neighbor_id").alias("right_id"),
    )
    rhits = right.join(
        l2r.select(F.col("right_id").alias("vec_id")).distinct(),
        "vec_id",
    )
    r2l = cosine_topk(left, rhits, k=1).select(
        F.col("neighbor_id").alias("left_id"),
        F.col("query_id").alias("right_id"),
    )
    exact_s = l2r.join(r2l, ["left_id", "right_id"]).persist()
    n_exact = exact_s.count()
    n_hit = (
        approx.filter(in_sample(F.col("left_id")))
        .join(F.broadcast(exact_s), ["left_id", "right_id"], "left_semi")
        .count()
    )
    exact_s.unpersist()
    rec = round(n_hit / n_exact, 4) if n_exact else 1.0
    return approx.withColumn("recall_vs_exact", F.lit(rec))


def _q_hard_negatives_ivf(spark, sf_dir):
    """The 100-TB hard-negative shape (r3 verdict #1): IVF candidates at
    4x k headroom (same-label candidates are discarded below the rank
    window), vectors+labels fetched by id-keyed joins — the full corpus
    is never broadcast. Rows-only by design; every row embeds
    ``recall_vs_exact`` vs the exact baseline on a deterministic HALF
    of the query set (sampled audit, r4 verdict #4 — the bench time
    now reflects the candidate-fed shape, not exact+approx). Floor
    pinned in tests/test_sessions.py."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        hard_negatives,
        ivf_topk,
    )

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "label", (F.col("vec_id") % 4).cast("int")
    )
    q = emb.filter(F.col("vec_id") < 20)
    cand = ivf_topk(emb, q, k=25, n_cells=8, nprobe=4).select(
        "query_id", F.col("neighbor_id").alias("neg_id")
    )
    approx = hard_negatives(emb, q, k=5, candidates=cand).persist()
    # sampled recall audit (r4 verdict #4): exact negatives computed
    # for HALF the query set (even ids — deterministic), scanned
    # against the full corpus, so the bench time reflects the
    # candidate-fed production path plus half an audit, and the
    # recall estimate stays a true exact-set comparison per query
    qs_audit = q.filter(F.col("vec_id") % 2 == 0)
    exact_s = (
        hard_negatives(emb, qs_audit, k=5)
        .select("query_id", "neg_id")
        .persist()
    )
    n_exact = exact_s.count()
    n_hit = (
        approx.filter(F.col("query_id") % 2 == 0)
        .join(F.broadcast(exact_s), ["query_id", "neg_id"], "left_semi")
        .count()
    )
    exact_s.unpersist()
    rec = round(n_hit / n_exact, 4) if n_exact else 1.0
    return approx.withColumn("recall_vs_exact", F.lit(rec))


def _q_binseg(spark, sf_dir):
    """Binary-segmentation changepoints (functions/stats.py
    changepoint_binary_seg) on the monthly revenue series per order
    priority — exact-integer contrast scoring, all groups advancing in
    parallel per round. ORACLED since r4 (r3 verdict #6) at the K=1
    case: one greedy round IS the single-split argmax, which DuckDB
    expresses with the same windowed prefix-sum construction as
    q_changepoint plus the two-segment rollup. The multi-split (K=3)
    greedy recursion stays pinned against the brute-force reference in
    tests/test_stats.py — iteration count changes nothing about the
    per-round plan the driver artifact needs to witness."""
    from png_from_pdf_extracter_spark.functions.stats import (
        changepoint_binary_seg,
    )

    o = _read(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias(
            "rev_cents"
        )
    )
    return changepoint_binary_seg(
        monthly,
        ("o_orderpriority",),
        ("month",),
        "rev_cents",
        max_changepoints=1,
        quantize=0,
    )


def _q_k_anonymity(spark, sf_dir):
    """K-anonymity audit (curate.k_anonymity_report): quasi-identifier
    = (event_type, minute-of-day) over events — combinations shared by
    fewer than k=5 rows are linkage risks; one combinable groupBy."""
    from png_from_pdf_extracter_spark.functions.curate import (
        k_anonymity_report,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts") * 60 + F.minute("ts")).alias("minute_of_day"),
    )
    return k_anonymity_report(ev, ("event_type", "minute_of_day"), k=5)


def _q_theil_sen(spark, sf_dir):
    """Theil-Sen robust per-user value trend (functions/stats.py
    theil_sen_slope): median pairwise slope of event value over a
    minute clock — pair join on the user key only, lower median by the
    exact integer reach test."""
    from png_from_pdf_extracter_spark.functions.stats import (
        theil_sen_slope,
    )

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(6e7)
        ).cast("long").alias("xmin"),
        "value",
    )
    return theil_sen_slope(ev, ("user_id",), "xmin", "value")


def _q_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H across the five order priorities on totalprice
    (functions/stats.py kruskal_wallis) — the k-group rank test. All
    rank sums exact BIGINTs off the distinct-value table; the float H
    is assembled with a FIXED per-class accumulation order (ordered
    window over the class key) so both engines add identical doubles."""
    from png_from_pdf_extracter_spark.functions.stats import kruskal_wallis

    o = _read(spark, sf_dir, "orders")
    return kruskal_wallis(o, "o_totalprice", "o_orderpriority", quantize=2)


def _q_mann_kendall(spark, sf_dir):
    """Mann-Kendall monotone-trend test per user on the event value
    over the minute clock (functions/stats.py mann_kendall) — the
    is-there-a-trend companion to q_theil_sen, same bounded-group pair
    join; S and the tie-corrected variance are exact BIGINTs, the only
    float is the continuity-corrected Z emit."""
    from png_from_pdf_extracter_spark.functions.stats import mann_kendall

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(6e7)
        ).cast("long").alias("xmin"),
        "value",
    )
    return mann_kendall(ev, ("user_id",), "xmin", "value", quantize=2)


def _q_cusum(spark, sf_dir):
    """One-sided upper CUSUM drift monitor per user on event value
    (functions/stats.py cusum_drift): the classic max(0, S+x-k)
    recursion re-expressed as prefix-sum minus running minimum — two
    ordered windows over exact BIGINTs, one user_id exchange, alarm
    when the statistic clears the threshold."""
    from png_from_pdf_extracter_spark.functions.stats import cusum_drift

    ev = _read(spark, sf_dir, "events")
    return cusum_drift(
        ev,
        ("user_id",),
        ("ts", "event_id"),
        "value",
        target_q=25_000,
        slack_q=500,
        threshold_q=200_000,
        quantize=2,
    )


def _q_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg FDR control per event_type battery
    (functions/stats.py bh_fdr): the multiple-testing step over a
    battery of p-values. The synthetic corpus carries no real
    hypothesis battery, so each event contributes a deterministic
    uniform p derived from md5(event_id) — the q_pii_scrub framing:
    derived inputs exercise the REAL plan (range-frame tied ranks,
    integer BH condition, full-frame threshold) end to end."""
    from png_from_pdf_extracter_spark.functions.stats import bh_fdr

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("event_id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(1_000_000)
            ).cast("double")
            / F.lit(1e6)
        ).alias("p"),
    )
    return bh_fdr(ev, "p", group_cols=("event_type",))


def _q_winsorize_exact(spark, sf_dir):
    """Group-wise winsorization of event value into the [5%, 95%]
    band per event_type (functions/stats.py winsorize) — the
    EXACT-quantile, per-row twin of q_winsorize (which uses
    interpolated percentile() and emits a rollup): lower quantiles by
    the integer reach test over the per-group distinct-value table,
    group-keyed threshold join back, clamp + flag on every row."""
    from png_from_pdf_extracter_spark.functions.stats import winsorize

    ev = _read(spark, sf_dir, "events")
    return winsorize(
        ev,
        "value",
        ("event_type",),
        lo_num=5,
        lo_den=100,
        hi_num=95,
        hi_den=100,
        quantize=2,
    )


def _q_keyness(spark, sf_dir):
    """Dunning G2 keyness of English documents vs the rest
    (functions/lm.py keyness_g2): which words characterize the focus
    corpus — BIGINT token counts, one broadcast totals row, one float
    G2 expression per term mirrored verbatim in the oracle."""
    from png_from_pdf_extracter_spark.functions.lm import keyness_g2

    d = _read(spark, sf_dir, "documents")
    return keyness_g2(d, "lang", "en", min_count=5, top_k=100)


def _q_ngram_commonness(spark, sf_dir):
    """Per-doc trigram commonness / boilerplate score
    (functions/curate.py ngram_commonness): share of each document's
    distinct trigrams appearing in >= 5 docs — integer-exact, one
    shingle-keyed join, one doc rollup; the same shingle CTE as the
    Jaccard family oracles."""
    from png_from_pdf_extracter_spark.functions.curate import (
        ngram_commonness,
    )

    d = _read(spark, sf_dir, "documents")
    return ngram_commonness(d, n=3, common_df=5)


def _q_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the lang-ID heuristic and the stored lang
    label (functions/evalmetrics.py cohens_kappa) — chance-corrected
    agreement, the honesty check behind the heuristic's raw accuracy:
    exact BIGINT margins, one float division."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        cohens_kappa,
    )
    from png_from_pdf_extracter_spark.functions.text import lang_id

    d = _read(spark, sf_dir, "documents").select(
        "lang", lang_id("text").alias("pred")
    )
    return cohens_kappa(d, "lang", "pred")


def _q_isotonic(spark, sf_dir):
    """Isotonic calibration of the hashed linear quality score vs the
    lang='en' label (evalmetrics.isotonic_calibrate): binned PAVA with
    integer merge decisions driver-side over <=20 bins; the oracle
    recomputes the fit by the O(B^3) minimax duality. Score pre-floored
    to 4dp (the q_calibration convention) so binning is cross-engine
    exact."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    d = _read(spark, sf_dir, "documents")
    s4 = F.floor(
        curate.hashed_linear_score("text") * F.lit(10000.0)
    ) / F.lit(10000.0)
    scored = d.select(
        s4.alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return evalmetrics.isotonic_calibrate(
        scored, "score", "y", n_bins=20
    )


def _q_quantile_norm(spark, sf_dir):
    """Quantile normalization of per-source document lengths onto the
    pooled length distribution (drift.quantile_normalize): each doc's
    within-source length rank maps to the pooled quantile anchor —
    the cross-source batch-effect remover. 64 anchors, integer anchor
    inversion (O(C) explode, not O(C*B) join)."""
    from png_from_pdf_extracter_spark.functions.drift import (
        quantile_normalize,
    )

    d = _read(spark, sf_dir, "documents")
    return quantile_normalize(
        d, "source", "doc_id", "n_chars", anchors=64
    )


def _q_chi2_indep(spark, sf_dir):
    """Chi-square independence of lang x source on the documents table
    (functions/stats.py chi2_independence): per-cell observed /
    expected / contribution rows, margins re-aggregated from the cell
    table (never a second corpus pass)."""
    from png_from_pdf_extracter_spark.functions.stats import (
        chi2_independence,
    )

    d = _read(spark, sf_dir, "documents")
    return chi2_independence(d, "lang", "source")


def _q_gini_sources(spark, sf_dir):
    """Corpus-concentration diagnostic (functions/stats.py
    gini_concentration): Gini / HHI / top-share of the per-source
    character mass of the documents table — the "is one domain
    dominating the training mix" gate, exact-integer construction."""
    from png_from_pdf_extracter_spark.functions.stats import (
        gini_concentration,
    )

    d = _read(spark, sf_dir, "documents")
    return gini_concentration(d, "source", "n_chars")


def _q_cooccur_lift(spark, sf_dir):
    """Market-basket association (functions/itemsets.py cooccur_lift):
    brands co-ordered within one order, with support / confidence /
    lift over distinct (order, brand) baskets. Self-equi-join on the
    basket key only — per-basket O(k^2), never corpus-global."""
    from png_from_pdf_extracter_spark.functions.itemsets import (
        cooccur_lift,
    )

    li = _read(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _read(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey", "p_brand"
    )
    return cooccur_lift(
        baskets, "l_orderkey", "p_brand", min_pair_count=3
    )


def _q_bootstrap_ci(spark, sf_dir):
    """Distributed Poisson-bootstrap CI (functions/stats.py
    poisson_bootstrap_ci): per event_type, a 40-replica bootstrap
    confidence interval for the mean event value — every replica's
    resampled universe a pure md5 function of (event_id, r), so DuckDB
    materializes the identical draw."""
    from png_from_pdf_extracter_spark.functions.stats import (
        poisson_bootstrap_ci,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return poisson_bootstrap_ci(
        ev, "event_id", "value", group_cols=("event_type",), replicas=40
    )


def _q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier time-to-convert (functions/stats.py kaplan_meier):
    per user, minutes from first signup to first subsequent purchase
    (right-censored at the user's last event when no purchase follows);
    survival via integer-quantized log steps — the order-independent
    running-sum construction, cross-engine exact."""
    from png_from_pdf_extracter_spark.functions.stats import kaplan_meier

    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "event_type", us.alias("us"))
    anchors = base.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("us"))
        ).alias("s0"),
        F.max("us").alias("last_us"),
    ).filter(F.col("s0").isNotNull())
    conv = (
        base.join(anchors, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("us") >= F.col("s0"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p0"))
    )
    obs = anchors.join(conv, "user_id", "left").select(
        F.floor(
            (F.coalesce("p0", "last_us") - F.col("s0")) / F.lit(60000000)
        ).alias("dur_min"),
        F.col("p0").isNotNull().cast("int").alias("event"),
    )
    return kaplan_meier(obs, "dur_min", "event")


def _surv_obs(spark, sf_dir):
    """Shared time-to-convert observation builder for the survival
    family (q_kaplan_meier inlines the same construction): per signup
    user, minutes from first signup to first subsequent purchase,
    right-censored at the user's last event; arm = user_id parity for
    the two-sample tests."""
    ev = _read(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = ev.select("user_id", "event_type", us.alias("us"))
    anchors = base.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("us"))
        ).alias("s0"),
        F.max("us").alias("last_us"),
    ).filter(F.col("s0").isNotNull())
    conv = (
        base.join(anchors, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("us") >= F.col("s0"))
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("p0"))
    )
    return anchors.join(conv, "user_id", "left").select(
        F.floor(
            (F.coalesce("p0", "last_us") - F.col("s0")) / F.lit(60000000)
        ).alias("dur_min"),
        F.col("p0").isNotNull().cast("int").alias("event"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )


def _q_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard (functions/stats.py nelson_aalen)
    over the same time-to-convert observations as q_kaplan_meier —
    per-step floor(d*1e9/n) BIGINT increments, libm-free and
    order-independent by construction."""
    from png_from_pdf_extracter_spark.functions.stats import nelson_aalen

    return nelson_aalen(_surv_obs(spark, sf_dir), "dur_min", "event")


def _q_log_rank(spark, sf_dir):
    """Two-group log-rank test (functions/stats.py log_rank_test): do
    even- and odd-user survival curves differ? Hypergeometric E/V per
    event time quantized to BIGINT steps; chi2 from the two exact
    sums."""
    from png_from_pdf_extracter_spark.functions.stats import log_rank_test

    return log_rank_test(
        _surv_obs(spark, sf_dir), "dur_min", "event", "arm"
    )


def _q_welch(spark, sf_dir):
    """Welch's unequal-variance t test (functions/stats.py
    welch_t_test): do even- and odd-user event values differ in MEAN?
    The two-sample parametric gate q_anova generalizes to k groups;
    per-arm exact BIGINT/DECIMAL sums off one conditional aggregate,
    t / Welch-Satterthwaite df / Cohen's d as fixed-order float
    expressions over the six exact scalars."""
    from png_from_pdf_extracter_spark.functions.stats import welch_t_test

    ev = _read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return welch_t_test(ev, "value", "arm", quantize=2)


def _q_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test (functions/stats.py
    cochran_armitage): does the English rate RISE with document length
    (100-char buckets as the ordered dose)? The ordered 2 x k screen
    q_chi2_indep throws the ordering away; five exact DECIMAL moment
    sums off a dose-bounded groupBy, chi2/z in one fixed-order
    expression."""
    from png_from_pdf_extracter_spark.functions.stats import (
        cochran_armitage,
    )

    d = _read(spark, sf_dir, "documents").select(
        F.floor(F.col("n_chars") / 100).cast("long").alias("dose"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return cochran_armitage(d, "dose", "is_en")


def _q_slope_break(spark, sf_dir):
    """Per-event-type slope-change breakpoint (functions/stats.py
    slope_break): where does the value trend CHANGE SLOPE, the break
    q_changepoint's mean-shift statistic cannot see. Integer prefix
    sums off one ordered window; every candidate's two-segment SSE is
    a fixed float expression; struct-min argmin."""
    from png_from_pdf_extracter_spark.functions.stats import slope_break

    ev = _read(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return slope_break(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
    )


def _q_ece(spark, sf_dir):
    """Expected / maximum calibration error of the hashed linear
    classifier (functions/evalmetrics.py expected_calibration_error):
    the one-number summary over q_calibration's reliability bins,
    weighted in fixed bin order."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        expected_calibration_error,
    )

    d = _read(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("long").alias("y"),
        curate.hashed_linear_score("text").alias("score"),
    )
    return expected_calibration_error(d, "score", "y")


def _q_fairness(spark, sf_dir):
    """Per-source fairness audit of the classifier gate at threshold 0
    (functions/evalmetrics.py fairness_gaps): selection rate, TPR, FPR
    per source plus each metric's max pairwise gap — demographic
    parity and equalized odds next to q_classifier_auc's accuracy."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        fairness_gaps,
    )

    d = _read(spark, sf_dir, "documents").select(
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return fairness_gaps(
        d.withColumn("pred", F.col("score") > 0), "pred", "y", "source"
    )


def _q_rmst(spark, sf_dir):
    """Restricted mean survival time at tau=5000 minutes
    (functions/stats.py rmst) over the q_kaplan_meier time-to-convert
    observations — the area under the KM head, the censoring-aware
    effect size when the median misleads. Step-rule integral in fixed
    time order over the quantized KM values."""
    from png_from_pdf_extracter_spark.functions.stats import rmst

    obs = _surv_obs(spark, sf_dir)
    return rmst(obs, "dur_min", "event", tau=5000)


def _q_curriculum(spark, sf_dir):
    """Curriculum schedule over the corpus (functions/curate.py
    curriculum_stages): 4 equal-frequency difficulty stages by doc
    length with tie-stable integer stage assignment and md5 shuffle
    keys — the two columns a curriculum loader range-partitions on;
    no global rank is ever materialized."""
    from png_from_pdf_extracter_spark.functions.curate import (
        curriculum_stages,
    )

    d = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_stages(
        d, "doc_id", "n_chars", n_stages=4, quantize=0
    )


def _q_avg_precision(spark, sf_dir):
    """Average precision of the hashed linear quality classifier per
    source (functions/evalmetrics.py average_precision): the PR-curve
    area q_classifier_auc's ROC number hides under class imbalance.
    (score desc, doc_id asc) pins tied-score order on both engines;
    precision terms accumulate in rank order."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        average_precision,
    )

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return average_precision(
        scored, "score", "y", "doc_id", group_cols=("source",)
    )


def _q_best_f1(spark, sf_dir):
    """Best-F1 operating point of the same classifier per source
    (functions/evalmetrics.py best_f1_threshold): sweep every distinct
    4dp score as the gate, integer cumulative (tp, fp, fn) over the
    distinct-score table, deterministic argmax with
    highest-threshold ties."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        best_f1_threshold,
    )

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return best_f1_threshold(
        scored, "score", "y", quantize=4, group_cols=("source",)
    )


def _q_partition_agreement(spark, sf_dir):
    """Clustering-agreement battery between the language and source
    labelings of the corpus (functions/evalmetrics.py
    partition_agreement): ARI from exact doubled pair-count DECIMAL
    sums, NMI / homogeneity / completeness / V-measure from
    fixed-order stepped entropies over the contingency table."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        partition_agreement,
    )

    d = _read(spark, sf_dir, "documents")
    return partition_agreement(d, "lang", "source")


def _q_huber(spark, sf_dir):
    """Per-event-type one-step Huber location (functions/stats.py
    huber_location): the robust mean that clips — not drops — tail
    deviations at 1.5 MAD; doubled-median rank-reach keeps every
    statistic integral until one final float expression."""
    from png_from_pdf_extracter_spark.functions.stats import (
        huber_location,
    )

    ev = _read(spark, sf_dir, "events").select("event_type", "value")
    return huber_location(ev, "value", ("event_type",))


def _q_kmv_setops(spark, sf_dir):
    """KMV sketch set-algebra (functions/sketch.py kmv_set_ops):
    union / intersection / Jaccard estimates between the even- and
    odd-half user populations from two 64-hash sketches — the
    sketch-exchange answer to the question q_capture_recapture
    answers with exact overlap. Deterministic md5 state => the whole
    estimate chain reproduces in DuckDB."""
    from png_from_pdf_extracter_spark.functions.sketch import (
        kmv_build,
        kmv_set_ops,
    )

    ev = _read(spark, sf_dir, "events")
    a = kmv_build(
        ev.filter(F.col("event_id") % 2 == 0), "user_id", (), 64
    )
    b = kmv_build(
        ev.filter(F.col("event_id") % 2 == 1), "user_id", (), 64
    )
    return kmv_set_ops(a, b, 64)


def _q_yuen(spark, sf_dir):
    """Yuen's 20%-trimmed-means t test between user-parity arms
    (functions/stats.py yuen_trimmed_t) — the robust twin of q_welch:
    rank-interval-overlap trimmed sums and winsorized moments off one
    (arm, value) count shuffle, all integer until the final t/df
    assembly."""
    from png_from_pdf_extracter_spark.functions.stats import (
        yuen_trimmed_t,
    )

    ev = _read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return yuen_trimmed_t(ev, "value", "arm", quantize=2)


def _q_rbo(spark, sf_dir):
    """Rank-biased overlap between the BM25 top-20 (q_bm25's query)
    and the longest-documents top-20 (search.rbo_overlap): does
    lexical relevance agree with sheer length, weighted toward the
    top ranks? One id join + one k-row geometric window; every count
    integer."""
    from png_from_pdf_extracter_spark.functions.search import rbo_overlap

    d = _read(spark, sf_dir, "documents")
    ra = search.bm25_topk(
        d, ["vector", "stream", "merge"], top_k=20
    ).select("doc_id", "rank")
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    rb = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    return rbo_overlap(ra, rb, p=0.9, k=20)


def _q_mantel_haenszel(spark, sf_dir):
    """Stratified A/B readout (functions/stats.py mantel_haenszel):
    pooled odds ratio + CMH chi² of 'high-value event' (value > 150)
    between user-parity arms, stratified by event type — the
    Simpson-safe version of q_ab_test's single 2x2. One conditional
    aggregate to the k-strata cell table, fixed-order stepped pooling."""
    from png_from_pdf_extracter_spark.functions.stats import (
        mantel_haenszel,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("value") > 150).cast("int").alias("hi"),
    )
    return mantel_haenszel(ev, "event_type", "arm", "hi")


def _q_holm(spark, sf_dir):
    """Holm step-down FWER control over the same md5-derived per-event
    p battery as q_bh_fdr (functions/stats.py holm_bonferroni) — the
    family-wise gate next to BH's FDR gate; min-rank tie convention
    keeps every frame RANGE-based, no row_number tie gamble."""
    from png_from_pdf_extracter_spark.functions.stats import (
        holm_bonferroni,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (
            (
                F.conv(
                    F.substring(
                        F.md5(F.col("event_id").cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(1_000_000)
            ).cast("double")
            / F.lit(1e6)
        ).alias("p"),
    )
    return holm_bonferroni(ev, "p", group_cols=("event_type",))


def _q_group_influence(spark, sf_dir):
    """Per-source influence on the global mean doc length
    (functions/stats.py group_influence): the leave-one-source-out
    delta table behind q_jackknife's single SE — which source drags
    the headline number, and in which direction. One combinable
    aggregate; each delta a fixed float expression over four
    integers."""
    from png_from_pdf_extracter_spark.functions.stats import (
        group_influence,
    )

    d = _read(spark, sf_dir, "documents").select("source", "n_chars")
    return group_influence(d, "n_chars", "source", quantize=0)


def _q_token_wer(spark, sf_dir):
    """Token-level edit distance / WER between each doc and its
    source-successor (functions/dedup.py token_edit_distance_pairs):
    the vocabulary dense-ranks into single characters so the built-in
    JVM levenshtein computes the WORD-level DP — no Python UDF. Exact
    here (31-word vocab << the 190 cap)."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        token_edit_distance_pairs,
    )

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("toks"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        F.lead("doc_id").over(w).alias("id_b"),
    ).filter(F.col("id_b").isNotNull())
    return token_edit_distance_pairs(d, pairs, "doc_id", "toks")


def _q_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture population estimate
    (functions/stats.py capture_recapture): the even-event-id and
    odd-event-id halves of the log are two 'crawls' of the user space;
    their overlap estimates the total distinct-user population — the
    coverage-audit number. Three distinct aggregates + one semi-join,
    two fixed float expressions."""
    from png_from_pdf_extracter_spark.functions.stats import (
        capture_recapture,
    )

    ev = _read(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("user_id").alias("id")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("user_id").alias("id")
    )
    return capture_recapture(a, b)


def _q_cond_entropy(spark, sf_dir):
    """Conditional entropy + Theil's U of event transitions
    (functions/stats.py conditional_entropy): how much does knowing
    the PREVIOUS event type tell you about the next one — the
    asymmetric association q_cramers_v can't express. Same per-user
    (ts, event_id) lag contract as q_event_transitions; fixed-order
    stepped ln sums over the k x k contingency table."""
    from png_from_pdf_extracter_spark.functions.stats import (
        conditional_entropy,
    )

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("x"),
        F.col("event_type").alias("y"),
    ).filter(F.col("x").isNotNull())
    return conditional_entropy(seq, "x", "y")


def _q_jackknife(spark, sf_dir):
    """Delete-a-source jackknife SE of the global mean document length
    (functions/stats.py jackknife_group_se): the clustered-sampling
    error bar — how much any single source moves the headline mean.
    Exact per-group integer sums; the G leave-out replicates accumulate
    in fixed group order."""
    from png_from_pdf_extracter_spark.functions.stats import (
        jackknife_group_se,
    )

    d = _read(spark, sf_dir, "documents").select("source", "n_chars")
    return jackknife_group_se(d, "n_chars", "source", quantize=0)


def _q_wilson(spark, sf_dir):
    """Per-source Wilson score intervals (functions/stats.py
    wilson_interval) on the short-document rate (n_chars < 500) —
    honest error bars on every shard's rate, stable at the 0/1 edges
    where Wald collapses. One combinable (n, successes) aggregate per
    group; the interval is a fixed float expression over two
    integers."""
    from png_from_pdf_extracter_spark.functions.stats import (
        wilson_interval,
    )

    d = _read(spark, sf_dir, "documents").select(
        "source", (F.col("n_chars") < 500).cast("int").alias("short")
    )
    return wilson_interval(d, "short", group_cols=("source",))


def _q_rake(spark, sf_dir):
    """RAKE keyphrase extraction (functions/keywords.py
    rake_keyphrases): top-15 stopword-delimited phrases by summed
    deg/freq word scores — integer-quantized per-word ratios make
    every phrase score an exact integer sum. Gaps-and-islands
    segmentation is a per-doc window; all other stages are
    map-combinable aggregates."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        rake_keyphrases,
    )

    return rake_keyphrases(_read(spark, sf_dir, "documents"), top_k=15)


def _q_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B read-out (functions/stats.py
    cuped_adjust): per-user pre-period metric (cent-quantized value
    sum over even event_ids) controls the post-period metric (odd
    event_ids), arms by user parity. Pre/post correlate through user
    activity, so theta/rho2 are non-trivial. Values are quantized
    BEFORE the per-user sum — integer per-user moments, no float-order
    drift."""
    from png_from_pdf_extracter_spark.functions.stats import cuped_adjust

    ev = _read(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pu = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_id") % 2 == 0, cents).otherwise(0)
        ).alias("pre"),
        F.sum(
            F.when(F.col("event_id") % 2 == 1, cents).otherwise(0)
        ).alias("post"),
    ).select(
        "pre", "post", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return cuped_adjust(pu, "pre", "post", "arm", quantize=0)


def _q_off_policy(spark, sf_dir):
    """IPS/SNIPS off-policy evaluation (functions/evalmetrics.py
    off_policy_value): what would the 'purchase for even users, click
    for odd' routing policy have earned on the logged traffic? Logged
    propensities are deterministic md5-derived tenths (1..9), so every
    importance weight is the exact rational 10/k and the estimate is
    integer until the terminal divisions."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        off_policy_value,
    )

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.when(F.col("user_id") % 2 == 0, F.lit("purchase"))
        .otherwise(F.lit("click"))
        .alias("target"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 9
            + 1
        ).alias("k"),
        "value",
    )
    return off_policy_value(ev, "action", "target", "k", "value")


def _q_prf_expand(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (search.prf_expand,
    RM1-uniform): BM25 top-10 for q_bm25's 3-term query, integer
    feedback-tf ranking of their non-query terms with a corpus-df
    stopword ceiling. All statistics integer => value-checkable; the
    candidate-term window is bounded by the 10 feedback docs. The
    ceiling is registered INERT (1.0): the synthetic corpus draws from
    a 31-word vocabulary with uniform df ~0.77, so any real ceiling
    empties the candidate set — the parameter's filtering behavior is
    pinned in tests/test_search.py instead."""
    return search.prf_expand(
        _read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        fb_docs=10,
        n_expansion=10,
        max_df_frac=1.0,
    )


def _q_prf_rerank(spark, sf_dir):
    """The full PRF loop (search.prf_rerank): expansion terms feed a
    SECOND BM25 pass through a broadcast term join — retrieval,
    expansion, re-ranking as ONE lazy plan, no driver collect of the
    term set. Top-20 of the expanded query."""
    return search.prf_rerank(
        _read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        fb_docs=10,
        n_expansion=10,
        max_df_frac=1.0,
        top_k=20,
    )


def _q_label_prop(spark, sf_dir):
    """Seeded label propagation, 3 synchronous rounds
    (functions/graph.py label_propagation) over the deterministic
    orders-derived graph (q_pagerank's): every 10th customer is
    clamped to its market segment; labels spread by majority vote
    with smallest-label tie-break. Deterministic rounds => the whole
    iteration is value-checked against 3 unrolled DuckDB CTEs."""
    from png_from_pdf_extracter_spark.functions.graph import (
        label_propagation,
    )

    o = _read(spark, sf_dir, "orders")
    edges = (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    c = _read(spark, sf_dir, "customer")
    seeds = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("node"),
        F.col("c_mktsegment").alias("label"),
    )
    return label_propagation(edges, seeds, rounds=3)


def _q_hill_tail(spark, sf_dir):
    """Hill tail-index of the word-frequency distribution
    (functions/stats.py hill_tail_index, k=100): HOW Zipf-heavy is
    the vocabulary tail — the sharp companion to q_zipf_fit's
    whole-line regression. Top-k membership via integer rank-reach
    over the distinct-count table; fixed-order ln sum over <= k
    rows."""
    from png_from_pdf_extracter_spark.functions.stats import (
        hill_tail_index,
    )

    d = _read(spark, sf_dir, "documents")
    wds = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    wc = (
        d.select(F.explode(wds).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    return hill_tail_index(wc, "f", k=100, quantize=0)


def _q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier
    (functions/evalmetrics.py naive_bayes_train/predict): train on the
    corpus's own (lang, word) counts with Laplace smoothing, score
    every doc against every label with INTEGER-quantized log-probs
    (float-order-immune sums), emit the resubstitution confusion
    matrix (lang, pred, n). The generative one-pass sibling of
    q_logreg_train."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        naive_bayes_predict,
        naive_bayes_train,
    )

    d = _read(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    dd = d.select("doc_id", "lang", toks.alias("toks"))
    wm, lm = naive_bayes_train(dd, "toks", "lang")
    pred = naive_bayes_predict(dd, "doc_id", "toks", wm, lm)
    return (
        dd.select(F.col("doc_id").alias("id"), "lang")
        .join(pred, "id")
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _q_heavy_hitters(spark, sf_dir):
    """Exact heavy-hitter vocabulary (functions/sketch.py
    heavy_hitters): every word at >= 0.2% of corpus occurrences with
    its exact count, found by per-partition Misra-Gries candidate
    pruning + one exact verify pass over candidate rows only — the
    full-cardinality groupBy (the q_top_words baseline) never runs.
    Candidacy is order-independent above the threshold, so the output
    equals the plain GROUP BY/HAVING oracle exactly."""
    from png_from_pdf_extracter_spark.functions.sketch import heavy_hitters

    d = _read(spark, sf_dir, "documents")
    wds = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda x: F.length(x) > 0
    )
    occ = d.select(F.explode(wds).alias("word"))
    return heavy_hitters(occ, "word", threshold_frac=0.002)


def _q_energy_distance(spark, sf_dir):
    """Two-sample energy distance (functions/stats.py
    energy_distance_2s): full-distribution gap between users divisible
    by 3 and the rest, as the metric E-statistic 2E|X-Y| - E|X-X'| -
    E|Y-Y'|. The pairwise L1 expectations collapse to ONE linear sweep
    over the sorted distinct-value table (gap-crossing identity), all
    integer until the final assembly."""
    from png_from_pdf_extracter_spark.functions.stats import (
        energy_distance_2s,
    )

    ev = _read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 3 == 0).cast("int").alias("arm")
    )
    return energy_distance_2s(ev, "value", "arm", quantize=2)


def _q_encoding_health(spark, sf_dir):
    """Per-source encoding-damage rollup (functions/text.py
    encoding_health): mojibake-mark / replacement-char / C1-control
    counts and suspect-doc counts. The corpus is clean by construction,
    so docs with doc_id % 7 == 0 get a deterministic mojibake suffix
    injected via plain SQL concat (both engines apply the identical
    injection) — the detector must flag exactly those."""
    from png_from_pdf_extracter_spark.functions.text import (
        MOJI_SUFFIX,
        encoding_health,
    )

    d = _read(spark, sf_dir, "documents").select(
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(MOJI_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    h = d.select("source", *encoding_health("text"))
    return h.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("enc_suspect").cast("int")).cast("long").alias(
            "suspect_docs"
        ),
        F.sum("moji_marks").cast("long").alias("moji_marks"),
        F.sum("repl_chars").cast("long").alias("repl_chars"),
        F.sum("c1_chars").cast("long").alias("c1_chars"),
    )


def _q_cvm(spark, sf_dir):
    """Cramér-von Mises two-sample criterion (functions/stats.py
    cramer_von_mises_2s): does the event-value DISTRIBUTION differ
    between users divisible by 3 and the rest? The integrated-square
    companion to q_ks_drift's max-gap; exact DECIMAL numerator
    sum_v c_v * (m*cumA - n*cumB)^2 over the distinct-value table,
    one float division at emit."""
    from png_from_pdf_extracter_spark.functions.stats import (
        cramer_von_mises_2s,
    )

    ev = _read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 3 == 0).cast("int").alias("arm")
    )
    return cramer_von_mises_2s(ev, "value", "arm", quantize=2)


def _q_tukey(spark, sf_dir):
    """Tukey-Kramer HSD pairwise mean comparisons (functions/stats.py
    tukey_hsd): WHICH event types differ in mean value, sharing one
    MSW error term — the follow-up q_anova's single F cannot answer.
    One groupBy to the k-row class table, broadcast self-join on
    g_a < g_b, fixed-order stepped MSW accumulation."""
    from png_from_pdf_extracter_spark.functions.stats import tukey_hsd

    ev = _read(spark, sf_dir, "events")
    return tukey_hsd(ev, "value", "event_type", quantize=2)


def _q_correlogram(spark, sf_dir):
    """Per-user ACF for lags 1..4 of the event value signal
    (functions/stats.py correlogram): one window computing every lag's
    lead as sibling columns, map-side unpivot, one (user, lag)
    aggregate — a single shuffle regardless of max_lag."""
    from png_from_pdf_extracter_spark.functions.stats import correlogram

    ev = _read(spark, sf_dir, "events")
    return correlogram(
        ev, ("user_id",), ("ts", "event_id"), "value", max_lag=4
    )


def _q_image_phash(spark, sf_dir):
    """Perceptual-hash image dedup on REAL decoded pixels
    (multimodal.image_dhash + image_near_dup_pairs over the stdlib PNG
    codec): synthetic media corpus with PLANTED duplicates (each image
    re-encoded byte-identically under a shifted id), dHash per image,
    pigeonhole band join for pairs, per-image near-dup degree. Rows-
    only by design (no image decode in a SQL oracle); the collide /
    diverge / error-channel behaviors are pinned in
    tests/test_multimodal.py."""
    media = multimodal.synth_media(spark, 48).filter(
        F.col("kind") == "image"
    )
    dupes = media.select(
        (F.col("media_id") + 1000).alias("media_id"),
        "kind",
        "mime",
        "payload",
        "meta_width",
        "meta_height",
        "meta_duration_ms",
    )
    corpus = media.unionByName(dupes)
    hashes = multimodal.image_dhash(corpus)
    pairs = multimodal.image_near_dup_pairs(hashes, max_hamming=4)
    degree = (
        pairs.select(F.col("id1").alias("media_id"))
        .unionByName(pairs.select(F.col("id2").alias("media_id")))
        .groupBy("media_id")
        .agg(F.count("*").cast("long").alias("n_neardups"))
    )
    return (
        hashes.join(degree, "media_id", "left")
        .select(
            "media_id",
            "status",
            "dhash",
            F.coalesce("n_neardups", F.lit(0)).alias("n_neardups"),
        )
        .orderBy("media_id")
    )


def _q_logreg_train(spark, sf_dir):
    """Distill the rule-based language detector into a trained gate:
    logistic regression (evalmetrics.logreg_train, Newton/IRLS, 6
    passes) fit to predict lang_id(text)=='en' from per-language
    function-word hit rates — the classic "replace an expensive rule
    cascade with a cheap learned scorer" curation pattern. (The
    documents table's `lang` column is an independent synthetic label
    the text does not encode, so the detector output is the honest
    learnable target.) Driver state = a 4x4 Hessian per pass. Rows-only
    by design: cross-partition float-sum order moves the weights' low
    bits; the numpy IRLS parity pin (1e-6) lives in
    tests/test_evalmetrics.py. Output embeds per-row prediction vs
    label plus the train loss so the driver row captures model
    quality, not just shape."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        logreg_score,
        logreg_train,
    )

    from png_from_pdf_extracter_spark.functions.text import _lang_hits

    d = _read(spark, sf_dir, "documents")
    ntok = text.token_count("text")
    feats = d.select(
        "doc_id",
        (text.lang_id("text") == "en").cast("int").alias("y"),
        (_lang_hits(F.col("text"), "en") * 100.0 / ntok).alias("f_en"),
        (_lang_hits(F.col("text"), "de") * 100.0 / ntok).alias("f_de"),
        (_lang_hits(F.col("text"), "es") * 100.0 / ntok).alias("f_es"),
    ).na.drop()
    w, stats = logreg_train(feats, ("f_en", "f_de", "f_es"), "y", iters=6)
    score = logreg_score(feats, ("f_en", "f_de", "f_es"), w)
    return feats.select(
        "doc_id",
        "y",
        F.round(score, 3).alias("p_en"),
        (score > 0.5).cast("int").alias("pred"),
        F.lit(round(stats["log_loss"], 3)).alias("train_loss"),
    )


def _q_kmv_distinct(spark, sf_dir):
    """Distinct users per event type via a K-minimum-values sketch
    (functions/sketch.py kmv_build/kmv_estimate, k=64): the transparent
    mergeable cardinality sketch — BIGINT md5-hash state the DuckDB
    oracle reproduces bit-for-bit (HLL registers can't be value-checked
    cross-engine; this can). Groups under k distinct are exact."""
    from png_from_pdf_extracter_spark.functions.sketch import (
        kmv_build,
        kmv_estimate,
    )

    ev = _read(spark, sf_dir, "events")
    sk = kmv_build(ev, "user_id", ("event_type",), k=64)
    return kmv_estimate(sk, ("event_type",), k=64)


_KEYWORDS = (
    "spark",
    "table",
    "hash join",
    "merge",
    "row scan",
    "sort",
    "window",
    "batch",
    "zzzz missing",
)


# SQL VALUES list derived from _KEYWORDS so the oracle dictionary stays in
# lockstep with the Spark-side automaton (single-quote-free keywords only)
_KW_VALUES_SQL = ", ".join(f"('{k}')" for k in _KEYWORDS)


def _q_compression_ratio(spark, sf_dir):
    """Per-doc zlib redundancy gate (curate.compression_ratio): deflate
    bytes / utf8 bytes — the all-orders repetition signal (templated
    pages compress hard, noise doesn't). Rows-only BY DESIGN: zlib is
    deterministic but not SQL-expressible; value pins live in
    tests/test_curate.py with hand-built high/low-redundancy docs."""
    from png_from_pdf_extracter_spark.functions.curate import (
        compression_ratio,
    )

    d = _read(spark, sf_dir, "documents")
    return compression_ratio(d)


def _q_turn_churn(spark, sf_dir):
    """Consecutive-turn token-set Jaccard (operators/sessions.py
    turn_churn): flags turns >= 0.8 similar to their predecessor in the
    same conversation — the fuzzy agent-loop detector (label_runs'
    exact-label twin misses paraphrased repeats). One window lag + JVM
    array_intersect/array_union, no Python."""
    from png_from_pdf_extracter_spark.operators.sessions import turn_churn

    d = _read(spark, sf_dir, "documents")
    return turn_churn(d, "source", ["doc_id"], "text", min_jaccard=0.8)


def _q_leakage_split(spark, sf_dir):
    """Leakage-free train/val/test split (curate.leakage_free_split):
    the split is an md5 function of each doc's near-dup COMPONENT
    representative (MinHash-LSH pairs -> connected components), so
    duplicate clusters can never straddle the train/val boundary — the
    internal-contamination bug a per-doc split silently commits. Split
    rollup with doc-id checksums proves the assignment against the
    DuckDB recursive-CTE component closure."""
    from png_from_pdf_extracter_spark.functions.curate import (
        leakage_free_split,
    )

    d = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    out = leakage_free_split(d, pairs)
    return out.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("group_key").cast("long").alias("n_groups"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


def _q_good_turing(spark, sf_dir):
    """Simple Good-Turing re-estimation over corpus bigram counts
    (functions/lm.py good_turing): r* = (r+1) N_{r+1} / N_r from the
    freq-of-freq table — integer-exact until the one division; bigrams
    because the closed unigram vocabulary has no singleton tail (the
    regime GT exists for)."""
    from png_from_pdf_extracter_spark.functions.lm import good_turing

    d = _read(spark, sf_dir, "documents")
    return good_turing(d, "text", n=2)


def _q_margin_mining(spark, sf_dir):
    """Ratio-margin bitext mining (similarity.margin_pairs, Artetxe &
    Schwenk 2019): each even-id embedding's best odd-id match scored by
    cosine normalized by both endpoints' top-4 neighborhood means — the
    hubness-robust mined-pair scorer (absolute cosine thresholds break
    when some vectors are near everything). Exact baseline via
    cosine_topk; candidate-fed production path shares mutual_nn's
    equi-join shape."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        margin_pairs,
    )

    emb = _read(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    return margin_pairs(left, right, k=4)


def _q_jaro_linkage(spark, sf_dir):
    """Blocked Jaro-Winkler record linkage over the distinct part-name
    vocabulary (functions/linkage.py jw_blocked_linkage): block on the
    2-char prefix + length band, score survivors with the Arrow-batched
    JW scorer (pinned value-exact against DuckDB's
    jaro_winkler_similarity), keep pairs >= 0.85. The fuzzy
    generalization of the reference's exact whitelist matching
    (/root/reference/src/services/attachment_service.py)."""
    from png_from_pdf_extracter_spark.functions.linkage import (
        jw_blocked_linkage,
    )

    p = _read(spark, sf_dir, "part")
    return jw_blocked_linkage(
        p, "p_name", threshold=0.85, block_chars=2, max_len_diff=2
    )


def _q_keyword_profile(spark, sf_dir):
    """One-pass multi-keyword dictionary profile via a broadcast
    Aho-Corasick automaton (functions/keywords.py keyword_profile):
    per keyword, documents hit and total leftmost-non-overlapping
    occurrences — one scan for the whole dictionary where the naive
    plan is K regex passes. The SQL oracle is the replace-trick count,
    which the non-overlap semantics match exactly."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        keyword_profile,
    )

    d = _read(spark, sf_dir, "documents")
    return keyword_profile(d, "doc_id", "text", _KEYWORDS)


def _q_event_loops(spark, sf_dir):
    """Run-length loop detection (operators/sessions.py label_runs):
    maximal runs of >= 3 consecutive identical event types per user —
    gaps-and-islands with one Exchange + one shared Sort. The
    transcript-native twin (same operator on (conv_id, turn_idx, tool))
    flags agent tool-loops; tests/test_sessions.py covers both."""
    from png_from_pdf_extracter_spark.operators.sessions import label_runs

    ev = _read(spark, sf_dir, "events")
    return label_runs(
        ev, "user_id", "event_type", ["ts", "event_id"], min_run=3
    )


def _q_ngram_containment(spark, sf_dir):
    """Trigram CONTAINMENT near-dup pairs (functions/dedup.py
    ngram_containment_pairs): |A∩B| / min(|A|,|B|) >= 0.6 — the
    Broder resemblance twin of q_ngram_jaccard that catches subset
    duplication (snippet/quote inclusion) Jaccard under-scores. Same
    joinless candidate plan and hot-shingle guard."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        ngram_containment_pairs,
    )

    d = _read(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6
    )


def _q_anova(spark, sf_dir):
    """One-way ANOVA F across the five order priorities on totalprice
    (functions/stats.py anova_oneway) — the parametric mean-shift
    companion to q_kruskal_wallis on the same contrast. Per-class sums
    exact (S_g BIGINT, Q_g DECIMAL so neither engine's overflow rules
    leak in); the between term accumulates in fixed class order."""
    from png_from_pdf_extracter_spark.functions.stats import anova_oneway

    o = _read(spark, sf_dir, "orders")
    return anova_oneway(o, "o_totalprice", "o_orderpriority", quantize=2)


def _q_levene(spark, sf_dir):
    """Brown-Forsythe equal-variance test across event types on the
    event value (functions/stats.py levene_bf) — the homoscedasticity
    gate before q_anova's F is trusted. Per-class DOUBLED medians via
    the exact integer rank-reach test; deviations stay BIGINT; the
    doubling cancels in W."""
    from png_from_pdf_extracter_spark.functions.stats import levene_bf

    ev = _read(spark, sf_dir, "events")
    return levene_bf(ev, "value", "event_type", quantize=2)


def _q_cramers_v(spark, sf_dir):
    """Cramér's V between market segment and nation on customers
    (functions/stats.py cramers_v) — the effect-size normalization of
    q_chi2_indep: same one-shuffle contingency plan, but the cross-cell
    chi2 total is accumulated in fixed (a, b) order so the single float
    sum stays bit-reproducible."""
    from png_from_pdf_extracter_spark.functions.stats import cramers_v

    c = _read(spark, sf_dir, "customer")
    return cramers_v(c, "c_mktsegment", "c_nationkey")


def _q_mcnemar(spark, sf_dir):
    """McNemar paired-classifier test (functions/evalmetrics.py
    mcnemar_test): the hashed linear scorer (q_hash_classifier's model)
    vs a length heuristic, both predicting the n_chars >= 500 label on
    the same documents — only the discordant cells b, c enter the
    statistic. One map-combinable aggregate; the oracle recomputes the
    identical md5 model in DuckDB."""
    from png_from_pdf_extracter_spark.functions.curate import (
        hashed_linear_score,
    )
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        mcnemar_test,
    )

    d = _read(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 500).alias("label"),
        (hashed_linear_score("text") > 0).alias("pred_a"),
        (F.col("n_chars") % 7 < 4).alias("pred_b"),
    )
    return mcnemar_test(d, "label", "pred_a", "pred_b")


def _q_kendall_tau(spark, sf_dir):
    """Kendall tau-b per nation between account balance and name length
    on customers (functions/stats.py kendall_tau_b) — concordance
    between two metrics where q_mann_kendall is value-vs-clock. Pairs
    enumerated once via strict custkey ordering (bounded-group
    contract); S and the doubled tie terms are exact BIGINTs."""
    from png_from_pdf_extracter_spark.functions.stats import kendall_tau_b

    c = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.length("c_name").cast("double").alias("name_len"),
    )
    return kendall_tau_b(
        c, ("c_nationkey",), "c_acctbal", "name_len", "c_custkey",
        quantize=2,
    )


def _q_did(spark, sf_dir):
    """Difference-in-differences on event value (functions/stats.py
    did_estimate): even-id users as the treated cohort, the month
    midpoint as the intervention; ONE map-combinable aggregate emits
    the four (treated x post) cells' exact sums, the estimate is a
    single fixed-op-order float."""
    from png_from_pdf_extracter_spark.functions.stats import did_estimate

    ev = _read(spark, sf_dir, "events").select(
        "value",
        (F.col("user_id") % 2 == 0).alias("treated"),
        (
            F.col("ts").cast("timestamp")
            >= F.lit("2024-01-16 00:00:00").cast("timestamp")
        ).alias("post"),
    )
    return did_estimate(ev, "value", "treated", "post", quantize=2)


def _q_l_diversity(spark, sf_dir):
    """L-diversity audit over (nation, segment) with the thousand-
    dollar balance bucket as the sensitive attribute
    (functions/curate.py l_diversity_report) — the attribute-disclosure
    companion to q_k_anonymity: a combo whose members all share one
    bucket leaks it under linkage even when k-anonymous."""
    from png_from_pdf_extracter_spark.functions.curate import (
        l_diversity_report,
    )

    c = _read(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    return l_diversity_report(
        c, ("c_nationkey", "c_mktsegment"), "bal_kb", l=3
    )


def _q_t_closeness(spark, sf_dir):
    """T-closeness audit over (nation, segment) with the thousand-
    dollar balance bucket as the sensitive numeric attribute
    (functions/curate.py t_closeness_report) — the distribution-level
    gate above q_l_diversity: per-combo 1-D Wasserstein distance to
    the global bucket distribution via the exact DECIMAL step
    construction, one ordered window per combo over the dense
    combo x value grid."""
    from png_from_pdf_extracter_spark.functions.curate import (
        t_closeness_report,
    )

    c = _read(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    return t_closeness_report(
        c, ("c_nationkey", "c_mktsegment"), "bal_kb", t=0.5
    )


def _q_mcc(spark, sf_dir):
    """Matthews correlation per language of the n_chars%7 heuristic
    against the length label (functions/evalmetrics.py mcc) — the
    imbalance-honest confusion summary; numerator BIGINT, denominator
    a fixed-order product of four sqrts so corpus-scale margins never
    overflow."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import mcc

    d = _read(spark, sf_dir, "documents").select(
        "lang",
        (F.col("n_chars") % 7 < 4).alias("pred"),
        (F.col("n_chars") >= 500).cast("long").alias("label"),
    )
    return mcc(d, "pred", "label", ("lang",))


def _q_brier(spark, sf_dir):
    """Murphy decomposition of the Brier score for the length-derived
    pseudo-probability least(n_chars,2000)/2000 against the n_chars >=
    500 label (functions/evalmetrics.py brier_decomposition): per
    distinct 4dp forecast, BIGINT (n, n_pos, sse8) plus fixed-order
    rel/res terms — the calibration-vs-separation reading a corpus
    quality gate needs before thresholding."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        brier_decomposition,
    )

    d = _read(spark, sf_dir, "documents").select(
        (
            F.least(F.col("n_chars"), F.lit(2000)).cast("double")
            / F.lit(2000.0)
        ).alias("score"),
        (F.col("n_chars") >= 500).alias("label"),
    )
    return brier_decomposition(d, "score", "label")


def _q_retrieval(spark, sf_dir):
    """Precision@5 / recall@5 / reciprocal rank per query
    (functions/evalmetrics.py retrieval_metrics) over the same judged
    exact-cosine top-10 as q_ndcg, with the HONEST recall denominator:
    the corpus-wide same-label count minus the query itself, joined on
    as total_rel — all BIGINT aggregates, terminal divisions only."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        retrieval_metrics,
    )

    e = _read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    lab_counts = lab.groupBy("label").agg(
        F.count("*").cast("long").alias("__labn")
    )
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lab_counts).withColumnRenamed("label", "qlab"),
            "qlab",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
            (F.col("__labn") - 1).alias("total_rel_corpus"),
        )
    )
    return retrieval_metrics(
        judged, ("query_id",), "rank", "rel", k=5,
        total_rel_col="total_rel_corpus",
    )


def _q_cliffs_delta(spark, sf_dir):
    """Cliff's delta effect size between the BUILDING and MACHINERY
    segments on account balance (functions/stats.py cliffs_delta) —
    the magnitude reading q_mann_whitney's p-value needs; BIGINT
    delta_num off the distinct-value count table, Romano band decided
    by integer cross-multiplication."""
    from png_from_pdf_extracter_spark.functions.stats import cliffs_delta

    c = _read(spark, sf_dir, "customer")
    return cliffs_delta(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_cochran_q(spark, sf_dir):
    """Cochran's Q across three deterministic document heuristics
    (functions/stats.py cochran_q) — McNemar generalized to k raters:
    the n_chars%7, n_chars%5 and length-threshold rules judge every
    document; two groupBys to four BIGINT scalars, one division."""
    from png_from_pdf_extracter_spark.functions.stats import cochran_q

    d = _read(spark, sf_dir, "documents")
    long = (
        d.select(
            "doc_id",
            F.lit("r1").alias("rater"),
            (F.col("n_chars") % 7 < 4).cast("long").alias("success"),
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r2").alias("rater"),
                (F.col("n_chars") % 5 < 3).cast("long").alias("success"),
            )
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r3").alias("rater"),
                (F.col("n_chars") >= 500).cast("long").alias("success"),
            )
        )
    )
    return cochran_q(long, "doc_id", "rater", "success")


def _q_friedman(spark, sf_dir):
    """Friedman rank test over per-(customer-bucket, order-priority)
    total spend blocks (functions/stats.py friedman_test) — the
    repeated-measures companion to q_kruskal_wallis: ranks live WITHIN
    each subject (window partition size = k, never corpus-wide), the
    doubled-rank identity keeps S4/A4/C4 exact BIGINTs."""
    from png_from_pdf_extracter_spark.functions.stats import friedman_test

    o = _read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return friedman_test(blocks, "subj", "trt", "spend", quantize=0)


def _orders_graph(spark, sf_dir):
    """The shared orders-derived edge list (q_pagerank / q_triangles
    derivation): src=custkey, dst=orderkey%1500."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.select(
            F.col("o_custkey").alias("src"),
            (F.col("o_orderkey") % 1500).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _q_linkpred(spark, sf_dir):
    """Adamic-Adar + resource-allocation link prediction on the
    orders graph (functions/graph.py link_prediction_scores), kept to
    pairs sharing >= 2 neighbors: per-pivot quantized weights summed as
    BIGINTs (never a float sum over an unordered set); hub pivots
    above the cap dropped BEFORE the wedge join."""
    from png_from_pdf_extracter_spark.functions.graph import (
        link_prediction_scores,
    )

    edges = _orders_graph(spark, sf_dir)
    return link_prediction_scores(edges).filter(
        F.col("common_neighbors") >= 2
    )


def _q_assortativity(spark, sf_dir):
    """Newman degree assortativity of the orders graph
    (functions/graph.py degree_assortativity) — r multiplied through
    by 4M^2 so every term is an exact BIGINT, zero transcendentals,
    one terminal division; the hub-wiring diagnostic read before any
    pair-generating operator."""
    from png_from_pdf_extracter_spark.functions.graph import (
        degree_assortativity,
    )

    return degree_assortativity(_orders_graph(spark, sf_dir))


def _q_hodges_lehmann(spark, sf_dir):
    """Hodges-Lehmann pseudo-median of account balance per nation
    (functions/stats.py hodges_lehmann): Walsh-average multiset built
    from the per-(nation, value) COUNT table (V x V on distinct
    quantized values, never row x row), median via the integer
    rank-reach test; med4 stays BIGINT."""
    from png_from_pdf_extracter_spark.functions.stats import hodges_lehmann

    c = _read(spark, sf_dir, "customer")
    return hodges_lehmann(c, "c_acctbal", ("c_nationkey",), quantize=2)


def _q_gaps(spark, sf_dir):
    """Telemetry coverage gaps per user: consecutive events spaced
    more than 6 hours apart (operators/temporal.py detect_gaps) — one
    lag window on the entity key, BIGINT second deltas, map-side
    filter; the report a resumable ingest reads before declaring a
    range complete."""
    from png_from_pdf_extracter_spark.operators.temporal import detect_gaps

    ev = _read(spark, sf_dir, "events")
    return detect_gaps(ev, "ts", ("user_id",), min_gap_seconds=21600)


def _q_seasonal_dow(spark, sf_dir):
    """Day-of-week seasonal profile of event value per event type
    (operators/temporal.py seasonal_profile_dow): per-cell BIGINT
    (n, sum) re-aggregated into group totals, seasonal offset vs the
    overall mean as one fixed-order float — the deseasonalizer run
    before any weekly-cycled metric meets a trend test."""
    from png_from_pdf_extracter_spark.operators.temporal import (
        seasonal_profile_dow,
    )

    ev = _read(spark, sf_dir, "events")
    return seasonal_profile_dow(
        ev, "ts", "value", ("event_type",), quantize=2
    )


def _q_jl_project(spark, sf_dir):
    """Deterministic JL sign projection of the embeddings to 8 dims
    (functions/similarity.py jl_project): arithmetic-hash ±1 matrix
    (i*j cross term breaks linear parity), BIGINT sums over quantized
    inputs, map-only with zero shuffle — the width reducer ahead of
    clustering/dedup at corpus scale."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        jl_project,
    )

    e = _read(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 2000
    )
    return jl_project(e, "vec_id", "embedding", out_dim=8, quantize=6)


def _q_jonckheere(spark, sf_dir):
    """Jonckheere-Terpstra ordered-trend test of totalprice along the
    five order priorities (functions/stats.py jonckheere_terpstra) —
    '1-URGENT'..'5-LOW' string order IS the dose order. Doubled J2
    from two windows over the dense (group x distinct-value) grid,
    null moments kept integral (mean4, var72)."""
    from png_from_pdf_extracter_spark.functions.stats import (
        jonckheere_terpstra,
    )

    o = _read(spark, sf_dir, "orders")
    return jonckheere_terpstra(
        o, "o_totalprice", "o_orderpriority", quantize=2
    )


def _q_page_trend(spark, sf_dir):
    """Page's L ordered-trend test over the q_friedman blocks
    (functions/stats.py page_trend_test): within-subject doubled ranks
    weighted by the treatment ordinal; L2 BIGINT, z one float
    expression off integral moments e4/v144."""
    from png_from_pdf_extracter_spark.functions.stats import (
        page_trend_test,
    )

    o = _read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return page_trend_test(blocks, "subj", "trt", "spend", quantize=0)


def _rater_long(spark, sf_dir):
    """Three deterministic 3-class raters over documents — the shared
    long table for the multi-rater agreement queries."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.lit("r1").alias("rater"),
            (F.col("n_chars") % 3).cast("int").alias("label"),
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r2").alias("rater"),
                (F.floor(F.col("n_chars") / 7) % 3)
                .cast("int")
                .alias("label"),
            )
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r3").alias("rater"),
                F.when(F.col("n_chars") < 300, 0)
                .when(F.col("n_chars") < 900, 1)
                .otherwise(2)
                .cast("int")
                .alias("label"),
            )
        )
    )


def _q_fleiss(spark, sf_dir):
    """Fleiss' kappa over three deterministic 3-class document raters
    (functions/evalmetrics.py fleiss_kappa): complete-design identity
    keeps every term BIGINT — T^2*agree vs pooled-total chance — with
    one terminal division; the k-rater agreement gate for an
    LLM-labeling pipeline."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        fleiss_kappa,
    )

    return fleiss_kappa(
        _rater_long(spark, sf_dir), "doc_id", "rater", "label"
    )


def _q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha (nominal) over the same rater table
    (functions/evalmetrics.py krippendorff_alpha_nominal) — the
    permutation-null (T-1) chance model; disag_num and pooled totals
    BIGINT, one division."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        krippendorff_alpha_nominal,
    )

    return krippendorff_alpha_nominal(
        _rater_long(spark, sf_dir), "doc_id", "rater", "label"
    )


def _q_conformal(spark, sf_dir):
    """Split-conformal 90% threshold of event value per event type
    (functions/evalmetrics.py conformal_threshold): integer target
    rank ceil((n+1)*900/1000) selected by the rank-reach test over the
    distinct-value count table — the finite-sample-valid gate
    calibrator, per stratum."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        conformal_threshold,
    )

    ev = _read(spark, sf_dir, "events")
    return conformal_threshold(
        ev, "value", ("event_type",), alpha_permille=100, quantize=2
    )


def _q_risk_coverage(spark, sf_dir):
    """Risk-coverage curve of the n_chars%7 heuristic against the
    length label with a deterministic confidence (n_chars%1000)/1000
    (functions/evalmetrics.py risk_coverage_curve): one descending
    running sum over the distinct-confidence count table — the
    abstention-policy curve."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        risk_coverage_curve,
    )

    d = _read(spark, sf_dir, "documents").select(
        ((F.col("n_chars") % 1000).cast("double") / F.lit(1000.0)).alias(
            "conf"
        ),
        (
            (F.col("n_chars") % 7 < 4) != (F.col("n_chars") >= 500)
        ).cast("long").alias("err"),
    )
    return risk_coverage_curve(d, "conf", "err", quantize=4)


def _q_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test of event values per user (ordered by
    the unique event_id; functions/stats.py runs_test): sides come
    from the DOUBLED exact median (2v vs med2 — no float compare),
    runs from one lag window; null moments integral. The streakiness
    screen on agent telemetry."""
    from png_from_pdf_extracter_spark.functions.stats import runs_test

    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return runs_test(ev, "value", "event_id", ("user_id",), quantize=2)


def _q_durbin_watson(spark, sf_dir):
    """Durbin-Watson lag-1 autocorrelation screen of event values per
    user (functions/stats.py durbin_watson): the mean cancels in the
    differences so num is a plain BIGINT; denominator exact via the
    n^2-scaling sum(n*v - S)^2; one float division."""
    from png_from_pdf_extracter_spark.functions.stats import durbin_watson

    ev = _read(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return durbin_watson(ev, "value", "event_id", ("user_id",), quantize=2)


def _q_span_corruption(spark, sf_dir):
    """T5-style deterministic span-corruption plan over documents
    (functions/curate.py span_corruption_plan): spans are a pure
    md5 function of (doc_id, span_idx) — reproducible across re-runs
    and engines; map-only sequence explode, zero shuffle."""
    from png_from_pdf_extracter_spark.functions.curate import (
        span_corruption_plan,
    )

    d = _read(spark, sf_dir, "documents")
    return span_corruption_plan(
        d, "doc_id", "n_chars", mask_permille=150, span_len=20
    )


def _q_procrustes(spark, sf_dir):
    """Orthogonal Procrustes alignment of a planted rotated snapshot
    back onto the original embeddings (functions/similarity.py
    procrustes_align) — the model-migration op: the 'new' space is the
    old one reversed and sign-flipped (an exact orthogonal map), so
    the recovered rotation must drive residuals to ~0 (pinned in
    tests). Rows-only by design (float SVD); d x d driver state."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        procrustes_align,
    )

    e = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    dim = len(e.select("embedding").first()["embedding"])
    rotated = e.select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.element_at(
                F.col("embedding"), dim - i.cast("int")
            ).cast("float")
            * F.when(i % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
        ).alias("embedding"),
    )
    out = procrustes_align(e, rotated)
    return out.select(
        "vec_id",
        F.size("aligned").alias("dims"),
        (F.floor(F.col("resid") * F.lit(1e6)) / F.lit(1e6)).alias(
            "resid_q6"
        ),
    )


def _q_mood_median(spark, sf_dir):
    """Mood's median test of totalprice across the five order
    priorities (functions/stats.py mood_median_test) — the
    outlier-immune k-group median check: grand median via the DOUBLED
    integer rank-reach selection, per-group above/below BIGINTs,
    chi-square accumulated in fixed group order."""
    from png_from_pdf_extracter_spark.functions.stats import (
        mood_median_test,
    )

    o = _read(spark, sf_dir, "orders")
    return mood_median_test(o, "o_totalprice", "o_orderpriority", quantize=2)


def _q_script_profile(spark, sf_dir):
    """Unicode script profile per document (functions/text.py
    script_profile): per-block char counts via explicit CODEPOINT
    RANGES (never named properties — Java regex and RE2 disagree on
    edge blocks), dominant script with fixed tie precedence; map-only,
    zero shuffle."""
    from png_from_pdf_extracter_spark.functions.text import script_profile

    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return script_profile(d, "text", ("doc_id",))


def _q_reliability(spark, sf_dir):
    """Cronbach's alpha + ICC(2,1) over the user x event_type value
    matrix (functions/stats.py interrater_reliability): do the per-type
    spend signals cohere into one reliable per-user activity scale?
    Cells are BIGINT sums of cent-quantized values (absent cell = 0 by
    contract); alpha and the two-way ANOVA mean squares are single
    fixed-op-order float expressions over five integer aggregates."""
    from png_from_pdf_extracter_spark.functions.stats import (
        interrater_reliability,
    )

    ev = _read(spark, sf_dir, "events")
    return interrater_reliability(
        ev, "user_id", "event_type", "value", quantize=2
    )


def _q_agreement(spark, sf_dir):
    """Lin's CCC + Bland-Altman limits (functions/stats.py
    concordance_agreement) validating the 6-chars-per-word length
    estimator against true n_chars, per source — the
    scale-shift-penalizing agreement read Pearson r can't give.
    Integer moments (x = n_chars, y = 6 * whitespace tokens); one
    combinable aggregate per source."""
    from png_from_pdf_extracter_spark.functions.stats import (
        concordance_agreement,
    )

    d = _read(spark, sf_dir, "documents").select(
        "source",
        F.col("n_chars").cast("double").alias("x"),
        (
            F.lit(6.0)
            * F.size(
                F.filter(
                    F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: F.length(t) > 0,
                )
            ).cast("double")
        ).alias("y"),
    )
    return concordance_agreement(d, "x", "y", ("source",), quantize=0)


def _q_lexical_richness(spark, sf_dir):
    """Lexical-richness battery per source (functions/text.py
    lexical_richness): Yule's K, Guiraud R, Herdan C, Honore R,
    Sichel S, lexical Simpson, bias-corrected Chao1 — the
    vocabulary-shape card next to q_vocab_growth's Heaps curve. Five
    BIGINTs per source (N, V, V1, V2, sum f^2) feed one float emit
    each; two combinable shuffles."""
    from png_from_pdf_extracter_spark.functions.text import (
        lexical_richness,
    )

    return lexical_richness(
        _read(spark, sf_dir, "documents"), "text", ("source",)
    )


def _q_ljung_box(spark, sf_dir):
    """Ljung-Box whiteness test on the per-type value series
    (functions/stats.py ljung_box), lags 1-5 ordered by (ts,
    event_id): joint autocorrelation read beyond q_autocorr's single
    lag. Integer lag-product sums per lag; Q accumulates over the
    5-row lag table in fixed order."""
    from png_from_pdf_extracter_spark.functions.stats import ljung_box

    ev = _read(spark, sf_dir, "events")
    return ljung_box(
        ev, ("event_type",), ("ts", "event_id"), "value",
        max_lag=5, quantize=2,
    )


def _q_kpss(spark, sf_dir):
    """KPSS level-stationarity statistic per event type
    (functions/stats.py kpss_level): partial-sum wander of the
    demeaned value series, the trend-drift complement to
    q_ljung_box's whiteness read. The sum of squared partial sums is
    expanded algebraically into three DECIMAL(38,0) prefix-sum
    aggregates — no float accumulates over rows."""
    from png_from_pdf_extracter_spark.functions.stats import kpss_level

    ev = _read(spark, sf_dir, "events")
    return kpss_level(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
    )


def _q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance ratio VR(5) per event type
    (functions/stats.py variance_ratio): overlapping 5-step-sum
    variance over 5x the one-step variance — direction-signed
    random-walk diagnostic next to q_kpss. Overlapping sums off the
    BIGINT prefix sum; both variances integer-moment exact."""
    from png_from_pdf_extracter_spark.functions.stats import (
        variance_ratio,
    )

    ev = _read(spark, sf_dir, "events")
    return variance_ratio(
        ev, ("event_type",), ("ts", "event_id"), "value",
        q=5, quantize=2,
    )


def _q_graph_profile(spark, sf_dir):
    """One-row structural profile of the orders graph
    (functions/graph.py graph_profile): density, global clustering
    (3T over wedges, triangles via the degree-oriented hub-safe
    pipeline), directed reciprocity, max degree — the scale-risk card
    read before any pair-generating operator. All-BIGINT numerators;
    each ratio one exact float emit."""
    from png_from_pdf_extracter_spark.functions.graph import graph_profile

    return graph_profile(_orders_graph(spark, sf_dir))


def _q_modularity(spark, sf_dir):
    """Newman modularity of the node%10 partition over the orders
    graph (functions/graph.py modularity): Q folded to
    (4m*sum_ec - sum_dc^2)/(4m^2) so both sums are BIGINTs and no
    float accumulates over the unordered community set. A hash
    partition scores ~0 — the null reference against which
    q_label_prop communities are judged."""
    from png_from_pdf_extracter_spark.functions.graph import modularity

    edges = _orders_graph(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comm = nodes.select(
        "node", (F.col("node") % 10).alias("community")
    )
    return modularity(edges, comm)


def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) at k=2,4,8 on the orders graph
    (functions/graph.py rich_club): do hubs wire to each other? The
    probe that predicts hub-join skew before it bites. Degree table
    joined to edges once; integer counts, phi the only float."""
    from png_from_pdf_extracter_spark.functions.graph import rich_club

    return rich_club(_orders_graph(spark, sf_dir), k_values=(2, 4, 8))


def _q_rank_metrics(spark, sf_dir):
    """Retrieval metric card beyond q_ndcg (evalmetrics.
    rank_metrics_at_k): precision@10, recall@10, MRR and cascade-model
    ERR for the same exact-cosine top-10 / label-match relevance
    construction. ERR's prefix product folds over the rank-sorted
    list — order-pinned, never a windowed float product."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    e = _read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return evalmetrics.rank_metrics_at_k(
        judged, "rel", "rank", ("query_id",), k=10, gmax=1
    )


def _q_ql_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood top-10 (functions/search.py
    ql_topk) for the q_bm25 term set — the language-modeling ranker
    next to BM25's tf-idf one. Postings-only decomposition (absent
    terms cost no rows); qconst and per-doc hit sums fold over
    term-sorted lists, order-pinned."""
    from png_from_pdf_extracter_spark.functions.search import ql_topk

    return ql_topk(
        _read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        mu=2000.0,
        top_k=10,
    )


def _q_inequality(spark, sf_dir):
    """Theil T + Atkinson(1) inequality of document length per source
    (functions/stats.py inequality_indices) — the decomposable
    complements to q_gini_sources. ln terms accumulate in fixed value
    order over the distinct-length table; scale-invariant, so the
    integer grid needs no descale."""
    from png_from_pdf_extracter_spark.functions.stats import (
        inequality_indices,
    )

    d = _read(spark, sf_dir, "documents")
    return inequality_indices(d, "n_chars", ("source",), quantize=0)


def _q_srm(spark, sf_dir):
    """Sample-ratio-mismatch chi2 for the 40/30/30 assignment derived
    from user_id % 10 (functions/stats.py srm_check) — the gate every
    A/B readout (q_cuped, q_welch, q_ab_test) must pass first.
    Expected counts are exact rationals off the designed weights; the
    chi2 sum runs in fixed arm order."""
    from png_from_pdf_extracter_spark.functions.stats import srm_check

    ev = _read(spark, sf_dir, "events").select(
        F.when(F.col("user_id") % 10 < 4, F.lit("a"))
        .when(F.col("user_id") % 10 < 7, F.lit("b"))
        .otherwise(F.lit("c"))
        .alias("arm")
    )
    return srm_check(ev, "arm", {"a": 4, "b": 3, "c": 3})


def _q_doubly_robust(spark, sf_dir):
    """Doubly-robust off-policy estimate (evalmetrics.
    doubly_robust_value) for q_off_policy's routing policy, with a
    deterministic outcome model qhat = user_id % 50 — consistent if
    either the propensities or the model is right. 2520-unit integer
    accumulation, DECIMAL(38,0) sums, terminal division only."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        doubly_robust_value,
    )

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.when(F.col("user_id") % 2 == 0, F.lit("purchase"))
        .otherwise(F.lit("click"))
        .alias("target"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 9
            + 1
        ).alias("k"),
        "value",
        (F.col("user_id") % 50).cast("double").alias("qhat"),
    )
    return doubly_robust_value(
        ev, "action", "target", "k", "value", "qhat", quantize=2
    )


def _q_linear_cka(spark, sf_dir):
    """Linear CKA between the raw embeddings and a planted per-dim
    gain drift y_i = x_i * (1 + i/100) (functions/similarity.py
    linear_cka) — the representation-similarity read for "did the
    re-encode/quantize/drift keep the geometry". Components quantized
    to integer milli-units BEFORE the gram pass, so every partial sum
    is a BIGINT; Frobenius sums fold in fixed (d1, d2) order."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        linear_cka,
    )

    e = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    qz = lambda c: F.round(c.cast("double") * F.lit(1000), 0).cast(  # noqa: E731
        "long"
    )
    d = e.select(
        F.transform(F.col("embedding"), lambda v: qz(v)).alias("xq"),
        F.transform(
            F.col("embedding"),
            lambda v, i: qz(
                v.cast("double")
                * (F.lit(1.0) + i.cast("double") / F.lit(100.0))
            ),
        ).alias("yq"),
    )
    return linear_cka(d, "xq", "yq")


def _q_forecast_accuracy(spark, sf_dir):
    """Seasonal-naive forecast scorecard per event type
    (functions/stats.py forecast_accuracy): MAE/RMSE/sMAPE/MAPE/MASE/
    pinball(0.9) of 'repeat last week' on the daily event-count
    series — the baseline every forecasting claim must beat. Integer
    daily counts make all but the percentage metrics BIGINT-exact;
    sMAPE/MAPE fold through the stepped day-ordered window."""
    from png_from_pdf_extracter_spark.functions.stats import (
        forecast_accuracy,
    )

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return forecast_accuracy(
        daily, ("event_type",), ("day",), "cnt", season=7, quantize=0
    )


def _q_brunner_munzel(spark, sf_dir):
    """Brunner-Munzel test between the BUILDING and MACHINERY
    segments on account balance (functions/stats.py brunner_munzel) —
    q_mann_whitney's Behrens-Fisher-robust sibling: valid when the
    two segments have different spread. Every ingredient reduces to
    the distinct-value count table (doubled midranks/placements are
    BIGINT moment sums); studentized W + Satterthwaite df."""
    from png_from_pdf_extracter_spark.functions.stats import (
        brunner_munzel,
    )

    c = _read(spark, sf_dir, "customer")
    return brunner_munzel(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_hurst(spark, sf_dir):
    """Hurst exponent by rescaled-range analysis of the per-type value
    series (functions/stats.py hurst_rs), block sizes 8-64 — the
    long-range-dependence probe beyond q_autocorr's fixed lag.
    Block partial sums are BIGINT; R, the block means and the K-point
    log-log OLS all fold through stepped ordered windows."""
    from png_from_pdf_extracter_spark.functions.stats import hurst_rs

    ev = _read(spark, sf_dir, "events")
    return hurst_rs(
        ev, ("event_type",), ("ts", "event_id"), "value",
        block_sizes=(8, 16, 32, 64), quantize=2,
    )


def _q_dp_counts(spark, sf_dir):
    """Laplace-mechanism released per-source document counts, eps=1
    (functions/curate.py dp_group_counts): seeded md5-uniform ->
    inverse-CDF Laplace noise, clamp at 0 — the privacy-budgeted
    release shape over the q_k_anonymity partitions. Seeding is for
    the cross-engine check; production draws fresh randomness."""
    from png_from_pdf_extracter_spark.functions.curate import (
        dp_group_counts,
    )

    d = _read(spark, sf_dir, "documents")
    return dp_group_counts(d, ("source",), eps_num=1, eps_den=1)


def _q_neyman(spark, sf_dir):
    """Neyman sample allocation of a 10k-row audit budget across
    order priorities by totalprice spread (functions/curate.py
    neyman_allocation): n_h ~ N_h * S_h, the minimum-variance
    stratified design. DECIMAL(38,0) moment sums; the denominator
    folds in fixed stratum order."""
    from png_from_pdf_extracter_spark.functions.curate import (
        neyman_allocation,
    )

    o = _read(spark, sf_dir, "orders")
    return neyman_allocation(
        o, ("o_orderpriority",), "o_totalprice", total_n=10000,
        quantize=2,
    )


def _q_kendalls_w(spark, sf_dir):
    """Kendall's W concordance over q_friedman's spend blocks
    (functions/stats.py kendalls_w): the agreement EFFECT SIZE next
    to Friedman's significance — W derived from the emitted Q in the
    same two-step on both engines, so the division is exact by
    construction."""
    from png_from_pdf_extracter_spark.functions.stats import kendalls_w

    o = _read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return kendalls_w(blocks, "subj", "trt", "spend", quantize=0)


def _q_grubbs(spark, sf_dir):
    """Grubbs' max-studentized-deviate outlier screen on account
    balance per market segment (functions/stats.py grubbs_test):
    integer moments, order-independent max over one per-row float,
    (deviation, value) struct-max argmax with value tie-break."""
    from png_from_pdf_extracter_spark.functions.stats import grubbs_test

    c = _read(spark, sf_dir, "customer")
    return grubbs_test(c, "c_acctbal", ("c_mktsegment",), quantize=2)


def _q_hubness(spark, sf_dir):
    """Hubness profile of the exact-cosine top-10 graph over the
    first 200 query vectors (functions/similarity.py hubness_profile):
    k-occurrence skewness — the high-dimensional pathology probe to
    run before trusting q_semdedup/q_mutual_nn neighbors. Integer
    in-degree moments; one neighbor-key count."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        hubness_profile,
    )

    e = _read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 200), k=10
    )
    return hubness_profile(ranked)


def _q_effect_sizes(spark, sf_dir):
    """Cohen's d / Hedges' g / Glass's delta for BUILDING vs
    MACHINERY account balances (functions/stats.py effect_sizes) —
    the magnitude companion to q_welch's significance. Integer
    moments in one combinable aggregate; scale-invariant."""
    from png_from_pdf_extracter_spark.functions.stats import effect_sizes

    c = _read(spark, sf_dir, "customer")
    return effect_sizes(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_partial_corr(spark, sf_dir):
    """Partial correlation of extended price and quantity controlling
    for discount (functions/stats.py partial_corr) — does the
    price-quantity association survive removing the discount channel?
    Nine DECIMAL(38,0) moments in one aggregate; the three Pearson
    r's and the partial are fixed float expressions."""
    from png_from_pdf_extracter_spark.functions.stats import partial_corr

    li = _read(spark, sf_dir, "lineitem")
    return partial_corr(
        li, "l_extendedprice", "l_quantity", "l_discount", quantize=2
    )


def _q_gini_gain(spark, sf_dir):
    """CART split score of source -> lang on documents
    (functions/stats.py gini_gain): Gini impurity drop from splitting
    the label by the feature — the no-logarithm sibling of
    q_cond_entropy's information gain; contingency counts only."""
    from png_from_pdf_extracter_spark.functions.stats import gini_gain

    d = _read(spark, sf_dir, "documents")
    return gini_gain(d, "source", "lang")


def _q_risk_ratios(spark, sf_dir):
    """2x2 relative-risk / odds-ratio card with 95% log CIs
    (functions/stats.py risk_ratios): does even-user traffic purchase
    more — the per-stratum read q_mantel_haenszel pools. Four BIGINT
    cells from one aggregate; Katz/Woolf intervals as fixed float
    expressions."""
    from png_from_pdf_extracter_spark.functions.stats import risk_ratios

    ev = _read(spark, sf_dir, "events").select(
        (F.col("user_id") % 2 == 0).alias("exposed"),
        (F.col("event_type") == "purchase").alias("converted"),
    )
    return risk_ratios(ev, "exposed", "converted")


def _q_quade(spark, sf_dir):
    """Quade range-weighted blocked rank test over q_friedman's spend
    blocks (functions/stats.py quade_test): blocks with bigger spread
    vote harder. Double-doubled integer construction (S4 = Q2 *
    (r2 - (k+1))); the 16s cancel in F."""
    from png_from_pdf_extracter_spark.functions.stats import quade_test

    o = _read(spark, sf_dir, "orders")
    blocks = o.groupBy(
        (F.col("o_custkey") % 50).alias("subj"),
        F.col("o_orderpriority").alias("trt"),
    ).agg(
        F.sum(
            F.round(F.col("o_totalprice") * 100, 0).cast("long")
        ).alias("spend")
    )
    return quade_test(blocks, "subj", "trt", "spend", quantize=0)


def _q_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of the daily event-count
    series per type (functions/stats.py seasonal_decompose): centered
    7-MA trend, positional-phase seasonal indices, and the Hyndman
    trend/seasonal strengths that say whether q_forecast_accuracy's
    seasonal-naive baseline is even apt. All cross-row float
    reductions fold through stepped ordered windows."""
    from png_from_pdf_extracter_spark.functions.stats import (
        seasonal_decompose,
    )

    ev = _read(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("long").alias("cnt"))
    return seasonal_decompose(
        daily, ("event_type",), ("day",), "cnt", period=7, quantize=0
    )


def _q_juilland(spark, sf_dir):
    """Juilland's D dispersion of the top-20 corpus terms across
    sources (functions/keywords.py juilland_dispersion): a frequent
    term with low D is a shard artifact, not a corpus term. Absent
    cells are zero by contract, so per-term CV comes from integer
    moments — no stepped window; TakeOrdered top-k."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        juilland_dispersion,
    )

    return juilland_dispersion(
        _read(spark, sf_dir, "documents"), "source", "text", top_k=20
    )


def _q_ansari(spark, sf_dir):
    """Ansari-Bradley scale test on account balance, BUILDING vs
    MACHINERY (functions/stats.py ansari_bradley): rank-based
    dispersion with R-style tie-averaged scores; block score sums
    have a closed integer form off the distinct-value table, AB and
    its tie-corrected moments fold in fixed value order."""
    from png_from_pdf_extracter_spark.functions.stats import (
        ansari_bradley,
    )

    c = _read(spark, sf_dir, "customer")
    return ansari_bradley(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_anderson_darling(spark, sf_dir):
    """Two-sample Anderson-Darling (functions/stats.py
    anderson_darling_2s, the Scholz-Stephens midrank A2akN): do EN and
    DE document lengths share a distribution, with the tails weighted
    where q_ks_drift is weakest? Doubled-integer midrank counts off
    the distinct-value table; per-value integer-ratio terms fold in
    fixed value order."""
    from png_from_pdf_extracter_spark.functions.stats import (
        anderson_darling_2s,
    )

    d = _read(spark, sf_dir, "documents")
    return anderson_darling_2s(
        d, "n_chars", "lang", "en", "de", quantize=0
    )


def _q_siegel_tukey(spark, sf_dir):
    """Siegel-Tukey scale test on account balance, BUILDING vs
    MACHINERY (functions/stats.py siegel_tukey) — the zigzag-score
    dispersion companion to q_ansari on the SAME arms, so the two
    scale tests corroborate each other in one artifact. Closed-form
    block score sums (series +- parity counts) off the distinct-value
    table; Wilcoxon moments with tie correction."""
    from png_from_pdf_extracter_spark.functions.stats import siegel_tukey

    c = _read(spark, sf_dir, "customer")
    return siegel_tukey(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_youden(spark, sf_dir):
    """Youden-J operating point of the hashed linear classifier per
    source (functions/evalmetrics.py youden_j_threshold) — the
    prevalence-free cut next to q_best_f1's F1 cut on the SAME scored
    input, so the imbalance gap between the two thresholds is
    readable from one artifact. Integer cumulative (tp,fp,fn,tn) over
    the distinct-score table; q12 argmax, highest-threshold ties."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        youden_j_threshold,
    )

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return youden_j_threshold(
        scored, "score", "y", quantize=4, group_cols=("source",)
    )


def _q_spiegelhalter(spark, sf_dir):
    """Spiegelhalter's binning-free calibration Z on the hashed linear
    score mapped to [0,1] vs the lang='en' label
    (functions/evalmetrics.py spiegelhalter_z) — the significance
    companion to q_calibration / q_ece: the S-grid normalizers cancel,
    so Z is a ratio of two DECIMAL(38,0) integer sums."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        spiegelhalter_z,
    )

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        (
            (curate.hashed_linear_score("text") + F.lit(1.0))
            / F.lit(2.0)
        ).alias("prob"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return spiegelhalter_z(scored, "prob", "y", quantize=4)


def _q_rbp(spark, sf_dir):
    """Rank-biased precision with persistence 0.8 over the same
    exact-cosine top-10 / label-match judged table as q_rank_metrics
    (functions/evalmetrics.py rank_biased_precision) — the
    user-model-weighted retrieval read WITH its residual, so shallow
    judgment pools are visible per query."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        rank_biased_precision,
    )

    e = _read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return rank_biased_precision(
        judged, "rel", "rank", ("query_id",), p_num=4, p_den=5
    ).orderBy("query_id")


def _q_overdispersion(spark, sf_dir):
    """Poisson overdispersion of per-user event counts per event type
    (functions/stats.py overdispersion_index): VMR + dispersion z off
    exact integer moments — the modeling gate before any per-user
    rate assumption."""
    from png_from_pdf_extracter_spark.functions.stats import (
        overdispersion_index,
    )

    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    return overdispersion_index(
        per_user, "n_events", group_cols=("event_type",)
    ).orderBy("event_type")


def _q_isotropy(spark, sf_dir):
    """Embedding anisotropy (similarity.embedding_isotropy): the
    all-pairs mean dot computed WITHOUT a pair table via the
    sum-vector identity ||S||² − Σ||v||² — an O(N²) statistic in one
    O(N·dim) pass, integer-exact on the 1e-4 component grid. The
    collapse gate before trusting cosine thresholds."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        embedding_isotropy,
    )

    e = _read(spark, sf_dir, "embeddings")
    return embedding_isotropy(e, "vec_id", "embedding", quantize=4)


def _q_effective_rank(spark, sf_dir):
    """Participation ratio of the embedding covariance spectrum
    (similarity.embedding_effective_rank): (Σλ)²/Σλ² WITHOUT an
    eigendecomposition — trace and Frobenius read off the covariance
    upper triangle, floor-1e-6 quantized first so both engines fold
    identical integers. The dimensional-collapse companion to
    q_isotropy."""
    from png_from_pdf_extracter_spark.functions.similarity import (
        embedding_effective_rank,
    )

    e = _read(spark, sf_dir, "embeddings")
    return embedding_effective_rank(e, "vec_id", "embedding")


def _q_rate_ratio(spark, sf_dir):
    """Poisson rate ratio of events per observed day, even- vs
    odd-user arms (functions/stats.py poisson_rate_ratio): per-user
    (events, exposure-days) rows aggregated to exact arm totals, the
    exposure-aware rate comparison q_welch (means) and
    q_overdispersion (clumping) bracket."""
    from png_from_pdf_extracter_spark.functions.stats import (
        poisson_rate_ratio,
    )

    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        (
            F.datediff(
                F.max(F.to_date("ts")), F.min(F.to_date("ts"))
            )
            + 1
        )
        .cast("long")
        .alias("days"),
    )
    arms = per_user.select(
        "n_events",
        "days",
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    return poisson_rate_ratio(
        arms, "n_events", "days", "arm", quantize=0
    )


def _q_log_odds(spark, sf_dir):
    """Monroe 'Fightin' Words' log-odds with informative Dirichlet
    prior, English vs the rest (functions/lm.py log_odds_prior) — the
    shrunk corpus-comparison reading next to q_keyness (G²) on the
    SAME split, so small-sample artifacts are visible as terms only
    the unshrunk statistic flags. Deterministic top-k cut on the
    floor-6dp |z|."""
    from png_from_pdf_extracter_spark.functions.lm import log_odds_prior

    d = _read(spark, sf_dir, "documents")
    return log_odds_prior(
        d, "lang", "en", alpha0=500.0, min_count=5, top_k=100
    )


def _q_two_proportion(spark, sf_dir):
    """Two-proportion card on high-value event rates, even- vs
    odd-user arms (functions/stats.py two_proportion_diff): pooled z
    plus the Newcombe hybrid-score CI built from each arm's Wilson
    bounds — the binary-outcome companion to q_welch/q_msprt on the
    same arm split."""
    from png_from_pdf_extracter_spark.functions.stats import (
        two_proportion_diff,
    )

    ev = _read(spark, sf_dir, "events")
    flags = ev.select(
        (F.col("value") > 50).cast("long").alias("hi"),
        (F.col("user_id") % 2).cast("int").alias("arm"),
    )
    return two_proportion_diff(flags, "hi", "arm")


def _q_gries_dp(spark, sf_dir):
    """Gries' Deviation of Proportions for the corpus's top-20 terms
    across sources (functions/keywords.py gries_dp) — the
    part-size-robust dispersion standard next to q_juilland on the
    same layout. Exact-integer present-cell sums (the absent-cell
    mass folds in algebraically), two terminal divisions, TakeOrdered
    top-k."""
    from png_from_pdf_extracter_spark.functions.keywords import gries_dp

    d = _read(spark, sf_dir, "documents")
    return gries_dp(d, "source", "text", top_k=20)


def _q_burstiness(spark, sf_dir):
    """Church-Gale term burstiness + adaptation over documents
    (functions/lm.py term_burstiness): cf/df and P(repeat|occurs) per
    term — the single-term template/boilerplate detector next to
    q_ngram_commonness. Exact BIGINT counts off one (term, doc)
    table; deterministic top-k by (cf, term)."""
    from png_from_pdf_extracter_spark.functions.lm import term_burstiness

    d = _read(spark, sf_dir, "documents")
    return term_burstiness(d, "doc_id", "text", min_df=5, top_k=100)


def _q_hosmer(spark, sf_dir):
    """Hosmer-Lemeshow binned calibration chi2 on the same [0,1]
    score as q_spiegelhalter (functions/evalmetrics.py
    hosmer_lemeshow) — the grouped significance read completing the
    calibration trio; equal-width bins so the edges are pure
    arithmetic, expected sums exact on the probability grid."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        hosmer_lemeshow,
    )

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        (
            (curate.hashed_linear_score("text") + F.lit(1.0))
            / F.lit(2.0)
        ).alias("prob"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return hosmer_lemeshow(scored, "prob", "y", n_bins=10, quantize=4)


def _q_stratified_est(spark, sf_dir):
    """Design-based corpus-mean estimate from a 20% hash-sampled
    audit, stratified by source (functions/curate.py
    stratified_estimate): est +- fpc-corrected SE against known
    population stratum counts — the read-out side of a q_neyman-
    planned q_hash-style draw. Cross-stratum sums fold in fixed
    stratum order."""
    from png_from_pdf_extracter_spark.functions.curate import (
        hash_sample,
        stratified_estimate,
    )

    d = _read(spark, sf_dir, "documents")
    samp = d.filter(hash_sample(d, "doc_id", 1, 5))
    pop = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_pop")
    )
    return stratified_estimate(
        samp, pop, ("source",), "n_chars", quantize=0
    )


def _q_ordinal_assoc(spark, sf_dir):
    """Gamma / Somers' D / tau-b between document length band and
    token band (functions/stats.py ordinal_association) — the
    graded-bucket association card next to q_cramers_v (nominal) and
    q_kendall_tau (numeric). One k x k cell self-join; everything
    BIGINT until the terminal ratios."""
    from png_from_pdf_extracter_spark.functions.stats import (
        ordinal_association,
    )

    d = _read(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    )
    band = (
        lambda c, b1, b2, b3: F.when(c < b1, 1)
        .when(c < b2, 2)
        .when(c < b3, 3)
        .otherwise(4)
    )
    g = d.select(
        band(F.col("n_chars"), 200, 500, 1000).alias("xb"),
        band(toks, 30, 80, 160).alias("yb"),
    )
    return ordinal_association(g, "xb", "yb")


def _q_weighted_kappa(spark, sf_dir):
    """Linear + quadratic weighted Cohen's kappa between document
    length band and token band (functions/evalmetrics.py
    weighted_kappa) — the ordinal-AGREEMENT companion to
    q_ordinal_assoc's correlation card, on the same graded buckets.
    DECIMAL(38,0) weighted sums off the k x k cell table and the
    margin cross join; one terminal division per kappa."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        weighted_kappa,
    )

    d = _read(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda t: F.length(t) > 0,
        )
    )
    band = (
        lambda c, b1, b2, b3: F.when(c < b1, 1)
        .when(c < b2, 2)
        .when(c < b3, 3)
        .otherwise(4)
    )
    g = d.select(
        band(F.col("n_chars"), 200, 500, 1000).alias("xb"),
        band(toks, 30, 80, 160).alias("yb"),
    )
    return weighted_kappa(g, "xb", "yb")


def _q_diversity(spark, sf_dir):
    """Per-language source-diversity card (functions/curate.py
    diversity_card): Shannon/evenness, unbiased Simpson/Gini-Simpson,
    Berger-Parker dominance — the mixture-health read next to
    q_mix_divergence. Shannon folds in fixed item order (stepped
    window); Simpson numerator and dominance BIGINT-exact."""
    from png_from_pdf_extracter_spark.functions.curate import (
        diversity_card,
    )

    d = _read(spark, sf_dir, "documents")
    return diversity_card(d, "lang", "source").orderBy("lang")


def _q_msprt(spark, sf_dir):
    """Anytime-valid mixture-SPRT mean gate on even- vs odd-user event
    values (functions/stats.py msprt_gate) — the always-valid peeking
    companion to q_welch on the SAME arms: exact quantized moments,
    one closed-form mixture likelihood ratio, p valid at every n."""
    from png_from_pdf_extracter_spark.functions.stats import msprt_gate

    ev = _read(spark, sf_dir, "events").select(
        "value", (F.col("user_id") % 2).cast("int").alias("arm")
    )
    return msprt_gate(ev, "value", "arm", tau=5.0, quantize=2)


def _q_pettitt(spark, sf_dir):
    """Pettitt rank change-point per event type (functions/stats.py
    pettitt_test): outlier-immune single-break detector next to
    q_changepoint's mean CUSUM and q_slope_break's trend break.
    Fully integer U_t via cumsum(doubled midranks) - t(n+1); the
    approximate p is the only float."""
    from png_from_pdf_extracter_spark.functions.stats import pettitt_test

    ev = _read(spark, sf_dir, "events")
    return pettitt_test(
        ev, ("event_type",), ("ts", "event_id"), "value", quantize=2
    )


def _q_wilcoxon(spark, sf_dir):
    """One-sample Wilcoxon signed-rank per market segment against a
    hypothesized 4500.00 balance (functions/stats.py
    wilcoxon_signed_rank): the distribution-free 'is the median
    really at the SLA point' gate; doubled midranks over \\|diff\\|
    keep 2W+ BIGINT, tie-corrected z."""
    from png_from_pdf_extracter_spark.functions.stats import (
        wilcoxon_signed_rank,
    )

    c = _read(spark, sf_dir, "customer")
    return wilcoxon_signed_rank(
        c, "c_acctbal", m0_q=450000, group_cols=("c_mktsegment",),
        quantize=2,
    )


def _q_lift_table(spark, sf_dir):
    """Decile lift/gains table for the hashed linear classifier
    against the lang='en' label (evalmetrics.lift_table) — the
    review-queue-depth read next to q_classifier_auc. (score desc,
    doc_id) tie-break makes ntile cross-engine exact; every number a
    rational of BIGINT counts."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return evalmetrics.lift_table(
        scored, "score", "y", "doc_id", n_buckets=10
    )


def _q_ppv_card(spark, sf_dir):
    """Bayes-corrected PPV/NPV of the threshold-0 classifier at
    design prevalences 1/5/10/50% (evalmetrics.
    ppv_npv_at_prevalence) — the base-rate reality check that stops a
    '99% accurate' detector flooding a 0.1%-prevalence corpus with
    false alerts. One confusion aggregate; per-prevalence rationals."""
    from png_from_pdf_extracter_spark.functions import evalmetrics

    d = _read(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return evalmetrics.ppv_npv_at_prevalence(
        scored, F.col("score") > 0, "y", prevalences=(1, 5, 10, 50)
    )


def _q_competing_risks(spark, sf_dir):
    """Aalen-Johansen cumulative incidence of first-purchase vs
    first-error per user (functions/stats.py competing_risks_cif):
    cause = whichever comes first (purchase wins exact ties),
    censored at last activity; integer-hour durations from exact
    epoch-microsecond arithmetic. The competing-risks completion of
    the q_kaplan_meier family — 1-KM per cause would overstate
    both."""
    from png_from_pdf_extracter_spark.functions.stats import (
        competing_risks_cif,
    )

    ev = _read(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("start"),
        F.max("ts").alias("last"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p"),
        F.min(
            F.when(F.col("event_type") == "error", F.col("ts"))
        ).alias("e"),
    )
    cause = (
        F.when(
            F.col("p").isNotNull()
            & (F.col("e").isNull() | (F.col("p") <= F.col("e"))),
            F.lit(1),
        )
        .when(F.col("e").isNotNull(), F.lit(2))
        .otherwise(F.lit(0))
    )
    endt = (
        F.when(cause == 1, F.col("p"))
        .when(cause == 2, F.col("e"))
        .otherwise(F.col("last"))
    )
    # parquet timestamps load as NTZ; the NTZ->LTZ cast shifts BOTH
    # endpoints by the same session offset, so the difference is exact
    um = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    obs = per_user.select(
        F.floor(
            (um(endt) - um(F.col("start"))).cast("double")
            / F.lit(3600000000.0)
        )
        .cast("long")
        .alias("dur_h"),
        cause.alias("cause"),
    )
    return competing_risks_cif(obs, "dur_h", "cause")


def _q_woolf(spark, sf_dir):
    """Woolf homogeneity of odds ratios across q_mantel_haenszel's
    strata (functions/stats.py woolf_homogeneity): is there ONE
    effect, or does the pooled MH number paper over stratum
    heterogeneity? Haldane +0.5 on every cell; two fixed-order
    stepped reductions with the pooled lnOR broadcast between."""
    from png_from_pdf_extracter_spark.functions.stats import (
        woolf_homogeneity,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        (F.col("value") > 150).cast("int").alias("hi"),
    )
    return woolf_homogeneity(ev, "event_type", "arm", "hi")


def _q_burrows(spark, sf_dir):
    """Burrows' Delta stylistic outlierness per source
    (functions/keywords.py burrows_delta): mean |z| of top-30
    function-word frequencies — flags the shard whose word-usage
    PROFILE deviates (template farm, register shift), the
    part-centric complement to q_juilland. Explicit grid completion;
    every float reduction order-pinned."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        burrows_delta,
    )

    return burrows_delta(
        _read(spark, sf_dir, "documents"), "source", "text", top_k=30
    )


def _q_bowker(spark, sf_dir):
    """Bowker symmetry test on the lang-vs-detector confusion
    (functions/stats.py bowker_symmetry): are the disagreements
    DIRECTIONAL — does 'fr' get read as 'es' more than the reverse?
    The drift question q_gwet's symmetric agreement can't answer,
    on the same rater pair. Integer cells; per-pair rationals folded
    in fixed pair order."""
    from png_from_pdf_extracter_spark.functions.stats import (
        bowker_symmetry,
    )
    from png_from_pdf_extracter_spark.functions.text import lang_id

    d = _read(spark, sf_dir, "documents").select(
        F.col("lang").alias("r1"),
        lang_id(F.col("text")).alias("r2"),
    )
    return bowker_symmetry(d, "r1", "r2")


def _q_hellinger(spark, sf_dir):
    """Hellinger distance between purchase and click value
    distributions (functions/stats.py hellinger_distance) — the
    bounded overlap-everywhere distance next to q_wasserstein's
    magnitude and q_jsd_split's information reads. Exact rational
    bin masses; the BC sum folds over the distinct-value table."""
    from png_from_pdf_extracter_spark.functions.stats import (
        hellinger_distance,
    )

    ev = _read(spark, sf_dir, "events")
    return hellinger_distance(
        ev, "value", "event_type", "purchase", "click", quantize=1
    )


def _q_mix_divergence(spark, sf_dir):
    """KL/TV/chi2 divergence of the language mixture from the designed
    4:2:2:1:1 training mix (functions/curate.py mixture_divergence) —
    the post-materialization drift gate next to q_mix_weights. Exact
    rational shares; the three sums fold over the 5-row language
    table in fixed order."""
    from png_from_pdf_extracter_spark.functions.curate import (
        mixture_divergence,
    )

    d = _read(spark, sf_dir, "documents")
    return mixture_divergence(
        d, "lang", {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
    )


def _q_pack_efficiency(spark, sf_dir):
    """Packing-efficiency report for q_seq_pack's 2000-token
    sequences (functions/curate.py pack_efficiency): per-source fill
    factor plus overflow/underfull sequence counts — the padding-waste
    read before a training run. Integer sums over the (key, seq)
    rollup."""
    from png_from_pdf_extracter_spark.functions.curate import (
        pack_efficiency,
    )
    from png_from_pdf_extracter_spark.functions.text import token_count

    d = _read(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return pack_efficiency(d, "source", "doc_id", "n_tok", 2000)


def _q_cucconi(spark, sf_dir):
    """Cucconi joint location-scale test, BUILDING vs MACHINERY
    account balances (functions/stats.py cucconi_test): one statistic
    that rejects when either the center or the spread moved — the
    screen before choosing q_mann_whitney vs q_ansari. Doubled
    midranks keep both squared-rank sums integer."""
    from png_from_pdf_extracter_spark.functions.stats import cucconi_test

    c = _read(spark, sf_dir, "customer")
    return cucconi_test(
        c, "c_acctbal", "c_mktsegment", "BUILDING", "MACHINERY"
    )


def _q_gwet(spark, sf_dir):
    """Gwet's AC1 agreement between the recorded lang label and the
    n-gram detector (functions/stats.py gwet_ac1) — the
    prevalence-robust companion to q_kappa_langid on the SAME rater
    pair; a kappa-vs-AC1 gap is the dominant-label warning. Exact
    rational po/marginals; pe folds over the label table."""
    from png_from_pdf_extracter_spark.functions.stats import gwet_ac1
    from png_from_pdf_extracter_spark.functions.text import lang_id

    d = _read(spark, sf_dir, "documents").select(
        F.col("lang").alias("r1"),
        lang_id(F.col("text")).alias("r2"),
    )
    return gwet_ac1(d, "r1", "r2")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q_sanitize": _q_sanitize,
        "q_regex_whitelist": _q_regex_whitelist,
        "q_explode_reassembly": _q_explode_reassembly,
        "q_window_order": _q_window_order,
        "q_group_metrics": _q_group_metrics,
        "q_error_classify": _q_error_classify,
        "q_dedup_exact": _q_dedup_exact,
        "q_chunk_dedup": _q_chunk_dedup,
        "q_mix_weights": _q_mix_weights,
        "q_fingerprint": _q_fingerprint,
        "q_rolling_fp": _q_rolling_fp,
        "q_ngram_jaccard": _q_ngram_jaccard,
        "q_minhash_lsh": _q_minhash_lsh,
        "q_dedup_components": _q_dedup_components,
        "q_simhash": _q_simhash,
        "q_knn_cosine": _q_knn_cosine,
        # rows-only: iterative Lloyd rounds, float centroid means
        "q_kmeans": _q_kmeans,
        "q_embed_covariance": _q_embed_covariance,
        # rows-only: driver eigh is not SQL-expressible
        "q_pca_whiten": _q_pca_whiten,
        "q_pmi_bigrams": _q_pmi_bigrams,
        "q_zipf_fit": _q_zipf_fit,
        "q_jsd_split": _q_jsd_split,
        "q_ks_drift": _q_ks_drift,
        "q_edit_distance": _q_edit_distance,
        "q_event_transitions": _q_event_transitions,
        "q_price_histogram": _q_price_histogram,
        "q_ab_test": _q_ab_test,
        "q_vocab_growth": _q_vocab_growth,
        "q_chi2_terms": _q_chi2_terms,
        "q_trend_per_group": _q_trend_per_group,
        "q_lang_id": _q_lang_id,
        "q_quality_tokens": _q_quality_tokens,
        "q_tpch_q1": _q_tpch_q1,
        "q_join_topn": _q_join_topn,
        "q_cc_split": _q_cc_split,
        "q_embed_near_dup": _q_embed_near_dup,
        "q_conv_rollup": _q_conv_rollup,
        "q_simhash_neardup": _q_simhash_neardup,
        "q_dedup_latest": _q_dedup_latest,
        "q_sessionize": _q_sessionize,
        "q_session_stats": _q_session_stats,
        "q_argmax": _q_argmax,
        "q_running_total": _q_running_total,
        "q_date_trunc": _q_date_trunc,
        "q_array_funcs": _q_array_funcs,
        "q_validate": _q_validate,
        "q_unpivot": _q_unpivot,
        "q_cube": _q_cube,
        "q_json_extract": _q_json_extract,
        "q_pivot": _q_pivot,
        "q_profile": _q_profile,
        "q_incremental_profile": _q_incremental_profile,
        "q_curate": _q_curate,
        "q_curate_funnel": _q_curate_funnel,
        "q_asof_attr": _q_asof_attr,
        "q_asof_dim": _q_asof_dim,
        "q_asof_skewed": _q_asof_skewed,
        "q_range_attr": _q_range_attr,
        "q_tpch_q3": _q_tpch_q3,
        "q_rollup_agg": _q_rollup_agg,
        "q_set_ops": _q_set_ops,
        "q_base64_decode": _q_base64_decode,
        "q_subject_prefix": _q_subject_prefix,
        "q_units_roundtrip_sql": _q_units_roundtrip_sql,
        "q_seq_pack": _q_seq_pack,
        "q_stratified_sample": _q_stratified_sample,
        "q_train_split": _q_train_split,
        "q_word_entropy": _q_word_entropy,
        "q_contamination": _q_contamination,
        "q_gopher_quality": _q_gopher_quality,
        "q_rank_family": _q_rank_family,
        "q_semi_anti": _q_semi_anti,
        "q_asof_forward": _q_asof_forward,
        "q_levenshtein": _q_levenshtein,
        "q_trailing_window": _q_trailing_window,
        "q_pandas_udf_tokens": _q_pandas_udf_tokens,
        "q_stats_agg": _q_stats_agg,
        "q_histogram": _q_histogram,
        "q_grouped_zscore": _q_grouped_zscore,
        "q_top_words": _q_top_words,
        "q_tfidf": _q_tfidf,
        "q_tpch_q5": _q_tpch_q5,
        "q_bloom_antijoin": _q_bloom_antijoin,
        "q_perplexity": _q_perplexity,
        "q_forward_fill": _q_forward_fill,
        "q_ntile_deciles": _q_ntile_deciles,
        "q_incr_dedup": _q_incr_dedup,
        "q_minhash_incr_dedup": _q_minhash_incr_dedup,
        "q_materialize_mix": _q_materialize_mix,
        "q_temperature_mix": _q_temperature_mix,
        "q_winsorize": _q_winsorize,
        "q_funnel_steps": _q_funnel_steps,
        "q_nullsafe_join": _q_nullsafe_join,
        "q_weighted_sample": _q_weighted_sample,
        # rows-only (no oracle): kernel/stub/approximate ops
        "q_procrustes": _q_procrustes,
        "q_profile_sketch": _q_profile_sketch,
        "q_embed_neardup_lsh": _q_embed_neardup_lsh,
        "q_ann_ivf": _q_ann_ivf,
        "q_extract_flagship": _q_extract_flagship,
        "q_extract_units_roundtrip": _q_extract_units_roundtrip,
        "q_media_features": _q_media_features,
        "q_media_frames": _q_media_frames,
        "q_image_stats": _q_image_stats,
        "q_audio_stats": _q_audio_stats,
        "q_video_stats": _q_video_stats,
        "q_ann_lsh": _q_ann_lsh,
        "q_sql_surface": _q_sql_surface,
        "q_ann_pq": _q_ann_pq,
        "q_ann_ivfpq": _q_ann_ivfpq,
        "q_tpch_q6": _q_tpch_q6,
        "q_tpch_q10": _q_tpch_q10,
        "q_tpch_q4": _q_tpch_q4,
        "q_tpch_q7": _q_tpch_q7,
        "q_tpch_q13": _q_tpch_q13,
        "q_tpch_q15": _q_tpch_q15,
        "q_tpch_q17": _q_tpch_q17,
        "q_tpch_q22": _q_tpch_q22,
        "q_line_dedup": _q_line_dedup,
        "q_hash_classifier": _q_hash_classifier,
        "q_semdedup": _q_semdedup,
        "q_tpch_q2": _q_tpch_q2,
        "q_tpch_q8": _q_tpch_q8,
        "q_tpch_q9": _q_tpch_q9,
        "q_tpch_q11": _q_tpch_q11,
        "q_tpch_q16": _q_tpch_q16,
        "q_tpch_q20": _q_tpch_q20,
        "q_tpch_q21": _q_tpch_q21,
        "q_tpch_q12": _q_tpch_q12,
        "q_tpch_q14": _q_tpch_q14,
        "q_tpch_q18": _q_tpch_q18,
        "q_tpch_q19": _q_tpch_q19,
        "q_pii_scrub": _q_pii_scrub,
        "q_corpus_diff": _q_corpus_diff,
        "q_domain_cap": _q_domain_cap,
        "q_retention_cohort": _q_retention_cohort,
        "q_url_extract": _q_url_extract,
        "q_vector_stats": _q_vector_stats,
        "q_dedup_ratio": _q_dedup_ratio,
        "q_unicode_normalize": _q_unicode_normalize,
        "q_merge_upsert": _q_merge_upsert,
        "q_scd2": _q_scd2,
        "q_pagerank": _q_pagerank,
        "q_hits": _q_hits,
        "q_triangles": _q_triangles,
        "q_classifier_auc": _q_classifier_auc,
        "q_readability": _q_readability,
        "q_chunk_sliding": _q_chunk_sliding,
        "q_embed_quantize": _q_embed_quantize,
        "q_rrf_fusion": _q_rrf_fusion,
        "q_decontaminate": _q_decontaminate,
        "q_jaccard_prefix": _q_jaccard_prefix,
        "q_skew_report": _q_skew_report,
        "q_ndcg": _q_ndcg,
        "q_bfs_hops": _q_bfs_hops,
        "q_calibration": _q_calibration,
        "q_boilerplate_strip": _q_boilerplate_strip,
        "q_source_similarity": _q_source_similarity,
        "q_time_weighted_avg": _q_time_weighted_avg,
        "q_weighted_median": _q_weighted_median,
        "q_mann_whitney": _q_mann_whitney,
        "q_spearman": _q_spearman,
        "q_autocorr": _q_autocorr,
        "q_ewma": _q_ewma,
        "q_kn_perplexity": _q_kn_perplexity,
        "q_kmv_distinct": _q_kmv_distinct,
        "q_logreg_train": _q_logreg_train,
        "q_running_distinct": _q_running_distinct,
        "q_attribution": _q_attribution,
        "q_changepoint": _q_changepoint,
        "q_interval_union": _q_interval_union,
        "q_benford": _q_benford,
        "q_kcore": _q_kcore,
        "q_rolling_median": _q_rolling_median,
        "q_mom_growth": _q_mom_growth,
        "q_image_phash": _q_image_phash,
        "q_correlogram": _q_correlogram,
        "q_kaplan_meier": _q_kaplan_meier,
        "q_nelson_aalen": _q_nelson_aalen,
        "q_log_rank": _q_log_rank,
        "q_welch": _q_welch,
        "q_cochran_armitage": _q_cochran_armitage,
        "q_cvm": _q_cvm,
        "q_tukey": _q_tukey,
        "q_energy_distance": _q_energy_distance,
        "q_encoding_health": _q_encoding_health,
        "q_heavy_hitters": _q_heavy_hitters,
        "q_naive_bayes": _q_naive_bayes,
        "q_label_prop": _q_label_prop,
        "q_hill_tail": _q_hill_tail,
        "q_prf_expand": _q_prf_expand,
        "q_prf_rerank": _q_prf_rerank,
        "q_scene_cuts": _q_scene_cuts,
        "q_cuped": _q_cuped,
        "q_off_policy": _q_off_policy,
        "q_rake": _q_rake,
        "q_wilson": _q_wilson,
        "q_jackknife": _q_jackknife,
        "q_capture_recapture": _q_capture_recapture,
        "q_cond_entropy": _q_cond_entropy,
        "q_group_influence": _q_group_influence,
        "q_token_wer": _q_token_wer,
        "q_holm": _q_holm,
        "q_mantel_haenszel": _q_mantel_haenszel,
        "q_rbo": _q_rbo,
        "q_yuen": _q_yuen,
        "q_kmv_setops": _q_kmv_setops,
        "q_huber": _q_huber,
        "q_partition_agreement": _q_partition_agreement,
        "q_avg_precision": _q_avg_precision,
        "q_best_f1": _q_best_f1,
        "q_curriculum": _q_curriculum,
        "q_rmst": _q_rmst,
        "q_ece": _q_ece,
        "q_fairness": _q_fairness,
        "q_slope_break": _q_slope_break,
        "q_gini_sources": _q_gini_sources,
        "q_isotonic": _q_isotonic,
        "q_k_anonymity": _q_k_anonymity,
        "q_mutual_nn": _q_mutual_nn,
        "q_mutual_nn_ivf": _q_mutual_nn_ivf,
        "q_hard_negatives_ivf": _q_hard_negatives_ivf,
        "q_negative_sample": _q_negative_sample,
        "q_wasserstein": _q_wasserstein,
        "q_holt": _q_holt,
        "q_markov_attribution": _q_markov_attribution,
        "q_tfidf_cosine": _q_tfidf_cosine,
        "q_dedup_best_rep": _q_dedup_best_rep,
        "q_gini_scoped": _q_gini_scoped,
        "q_median_survival": _q_median_survival,
        "q_hard_negatives": _q_hard_negatives,
        "q_binseg": _q_binseg,
        "q_theil_sen": _q_theil_sen,
        "q_kruskal_wallis": _q_kruskal_wallis,
        "q_anova": _q_anova,
        "q_levene": _q_levene,
        "q_cramers_v": _q_cramers_v,
        "q_mcnemar": _q_mcnemar,
        "q_kendall_tau": _q_kendall_tau,
        "q_did": _q_did,
        "q_l_diversity": _q_l_diversity,
        "q_t_closeness": _q_t_closeness,
        "q_mcc": _q_mcc,
        "q_brier": _q_brier,
        "q_retrieval": _q_retrieval,
        "q_cliffs_delta": _q_cliffs_delta,
        "q_cochran_q": _q_cochran_q,
        "q_friedman": _q_friedman,
        "q_linkpred": _q_linkpred,
        "q_assortativity": _q_assortativity,
        "q_hodges_lehmann": _q_hodges_lehmann,
        "q_gaps": _q_gaps,
        "q_seasonal_dow": _q_seasonal_dow,
        "q_jl_project": _q_jl_project,
        "q_jonckheere": _q_jonckheere,
        "q_page_trend": _q_page_trend,
        "q_fleiss": _q_fleiss,
        "q_krippendorff": _q_krippendorff,
        "q_conformal": _q_conformal,
        "q_risk_coverage": _q_risk_coverage,
        "q_runs_test": _q_runs_test,
        "q_durbin_watson": _q_durbin_watson,
        "q_span_corruption": _q_span_corruption,
        "q_mood_median": _q_mood_median,
        "q_script_profile": _q_script_profile,
        "q_mann_kendall": _q_mann_kendall,
        "q_cusum": _q_cusum,
        "q_bh_fdr": _q_bh_fdr,
        "q_winsorize_exact": _q_winsorize_exact,
        "q_keyness": _q_keyness,
        "q_ngram_commonness": _q_ngram_commonness,
        "q_kappa_langid": _q_kappa_langid,
        "q_quantile_norm": _q_quantile_norm,
        "q_chi2_indep": _q_chi2_indep,
        "q_cooccur_lift": _q_cooccur_lift,
        "q_bootstrap_ci": _q_bootstrap_ci,
        "q_rendezvous_shard": _q_rendezvous_shard,
        "q_dsir_weights": _q_dsir_weights,
        "q_url_canonical": _q_url_canonical,
        "q_cms_freq": _q_cms_freq,
        "q_skew_join": _q_skew_join,
        "q_grouping_cube": _q_grouping_cube,
        "q_inverted_index": _q_inverted_index,
        "q_bigram_perplexity": _q_bigram_perplexity,
        "q_repetition": _q_repetition,
        "q_ppl_buckets": _q_ppl_buckets,
        "q_minhash_dedup_apply": _q_minhash_dedup_apply,
        "q_bpe_pairs": _q_bpe_pairs,
        "q_robust_outliers": _q_robust_outliers,
        "q_expectations": _q_expectations,
        "q_psi_drift": _q_psi_drift,
        # rows-only: iterative tokenizer training (see _q_bpe_train)
        "q_bpe_train": _q_bpe_train,
        # rows-only: iterative per-word merge application (see _q_bpe_encode)
        "q_bpe_encode": _q_bpe_encode,
        "q_dup_spans": _q_dup_spans,
        "q_dup_spans_apply": _q_dup_spans_apply,
        "q_bm25": _q_bm25,
        # rows-only: zlib is deterministic but not SQL-expressible
        "q_compression_ratio": _q_compression_ratio,
        "q_turn_churn": _q_turn_churn,
        "q_leakage_split": _q_leakage_split,
        "q_good_turing": _q_good_turing,
        "q_margin_mining": _q_margin_mining,
        "q_jaro_linkage": _q_jaro_linkage,
        "q_keyword_profile": _q_keyword_profile,
        "q_event_loops": _q_event_loops,
        "q_ngram_containment": _q_ngram_containment,
        "q_reliability": _q_reliability,
        "q_agreement": _q_agreement,
        "q_lexical_richness": _q_lexical_richness,
        "q_ljung_box": _q_ljung_box,
        "q_kpss": _q_kpss,
        "q_variance_ratio": _q_variance_ratio,
        "q_graph_profile": _q_graph_profile,
        "q_modularity": _q_modularity,
        "q_rich_club": _q_rich_club,
        "q_rank_metrics": _q_rank_metrics,
        "q_ql_dirichlet": _q_ql_dirichlet,
        "q_inequality": _q_inequality,
        "q_srm": _q_srm,
        "q_doubly_robust": _q_doubly_robust,
        "q_linear_cka": _q_linear_cka,
        "q_forecast_accuracy": _q_forecast_accuracy,
        "q_brunner_munzel": _q_brunner_munzel,
        "q_hurst": _q_hurst,
        "q_dp_counts": _q_dp_counts,
        "q_neyman": _q_neyman,
        "q_kendalls_w": _q_kendalls_w,
        "q_grubbs": _q_grubbs,
        "q_hubness": _q_hubness,
        "q_effect_sizes": _q_effect_sizes,
        "q_partial_corr": _q_partial_corr,
        "q_gini_gain": _q_gini_gain,
        "q_risk_ratios": _q_risk_ratios,
        "q_quade": _q_quade,
        "q_seasonal_decompose": _q_seasonal_decompose,
        "q_juilland": _q_juilland,
        "q_ansari": _q_ansari,
        "q_stratified_est": _q_stratified_est,
        "q_cucconi": _q_cucconi,
        "q_gwet": _q_gwet,
        "q_mix_divergence": _q_mix_divergence,
        "q_pack_efficiency": _q_pack_efficiency,
        "q_bowker": _q_bowker,
        "q_hellinger": _q_hellinger,
        "q_woolf": _q_woolf,
        "q_burrows": _q_burrows,
        "q_competing_risks": _q_competing_risks,
        "q_lift_table": _q_lift_table,
        "q_ppv_card": _q_ppv_card,
        "q_pettitt": _q_pettitt,
        "q_wilcoxon": _q_wilcoxon,
        "q_ordinal_assoc": _q_ordinal_assoc,
        "q_weighted_kappa": _q_weighted_kappa,
        "q_diversity": _q_diversity,
        "q_msprt": _q_msprt,
        "q_anderson_darling": _q_anderson_darling,
        "q_siegel_tukey": _q_siegel_tukey,
        "q_youden": _q_youden,
        "q_spiegelhalter": _q_spiegelhalter,
        "q_rbp": _q_rbp,
        "q_overdispersion": _q_overdispersion,
        "q_isotropy": _q_isotropy,
        "q_effective_rank": _q_effective_rank,
        "q_rate_ratio": _q_rate_ratio,
        "q_log_odds": _q_log_odds,
        "q_two_proportion": _q_two_proportion,
        "q_gries_dp": _q_gries_dp,
        "q_burstiness": _q_burstiness,
        "q_hosmer": _q_hosmer,
    }


# --------------------------------------------------------------------------
# DuckDB oracles — keep in exact lockstep with the Spark implementations
# --------------------------------------------------------------------------

_SANITIZE_SQL = (
    "regexp_replace(regexp_replace(substring(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace({col}, '\\.[^.]*$', ''), "
    "'[^a-zA-Z0-9_-]', '_', 'g'), '_+', '_', 'g'), '^_+|_+$', '', 'g'), "
    "1, 50), '^_+|_+$', '', 'g'), '^$', 'unnamed')"
)

_SHINGLES_CTE = """
sh AS (
  SELECT DISTINCT id, shingle FROM (
    SELECT doc_id AS id,
           unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
    WHERE len(w) >= 3
  )
)
"""

_STOP_EN = "the|and|of|to|is|in|that|it|for|on"
_LANGS_SQL = {
    "en": _STOP_EN,
    "de": "der|die|das|und|ist|nicht|ein|zu|mit|von",
    "fr": "le|la|les|et|est|une|que|des|pour|dans",
    "es": "el|los|las|es|una|que|por|para|con|del",
}
_HITS = {
    l: f"length(regexp_extract_all(lower(text), '\\b(?:{p})\\b'))"
    for l, p in _LANGS_SQL.items()
}
_BEST = f"greatest({_HITS['en']}, {_HITS['de']}, {_HITS['fr']}, {_HITS['es']})"
_LANG_CASE = (
    f"CASE WHEN {_BEST} = 0 THEN 'und' "
    f"WHEN {_HITS['en']} = {_BEST} THEN 'en' "
    f"WHEN {_HITS['de']} = {_BEST} THEN 'de' "
    f"WHEN {_HITS['fr']} = {_BEST} THEN 'fr' "
    f"ELSE 'es' END"
)

_TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# MinHash-LSH candidate pairs as a reusable CTE chain (q_minhash_lsh and
# the q_dedup_components recursive closure both build on it)
_MINHASH_PAIRS_CTES = """
base AS (
  SELECT id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
           % 1000000007 AS hs
  FROM sh
),
sig AS (
  SELECT id, seed,
         min(((seed * 2 + 1) * hs + seed * 12345 + 6789)
             % 1000000007) AS minhash
  FROM base, (SELECT unnest(range(0, 8)) AS seed)
  GROUP BY id, seed
),
bands AS (
  SELECT id, (seed // 2) AS band,
         md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_hash
  FROM sig GROUP BY id, (seed // 2)
),
mh_pairs AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id
)
"""


def _band_ctes(src: str, p: str) -> str:
    """MinHash LSH band-table CTE chain over table/CTE ``src``, names
    prefixed with ``p`` — the two-snapshot twin of ``_MINHASH_PAIRS_CTES``
    (same shingles, base hash, universal-hash seeds, and band hashing, so
    it reproduces ``dedup._band_table`` exactly)."""
    return f"""
            {p}sh AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 2, 0) + 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM {src})
                WHERE len(w) >= 3
              )
            ),
            {p}base AS (
              SELECT id,
                     CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
                       % 1000000007 AS hs
              FROM {p}sh
            ),
            {p}sig AS (
              SELECT id, seed,
                     min(((seed * 2 + 1) * hs + seed * 12345 + 6789)
                         % 1000000007) AS minhash
              FROM {p}base, (SELECT unnest(range(0, 8)) AS seed)
              GROUP BY id, seed
            ),
            {p}bands AS (
              SELECT id, (seed // 2) AS band,
                     md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed))
                       AS band_hash
              FROM {p}sig GROUP BY id, (seed // 2)
            )"""


import math as _math

# exact doubles embedded in BOTH engines' expressions so no libm
# log10 call can diverge (repr round-trips the IEEE double exactly)
_BENFORD_CASE = "CASE digit " + " ".join(
    # ::DOUBLE: bare decimal literals are DECIMAL in DuckDB and the
    # chi2 products overflow DECIMAL(38); the engine must do IEEE math
    f"WHEN {d} THEN {_math.log10(1 + 1 / d)!r}::DOUBLE"
    for d in range(1, 10)
) + " ELSE 0.0::DOUBLE END"


_KM_SQL = """
            WITH base AS (
              SELECT user_id, event_type, epoch_us(ts) AS us FROM events
            ),
            anchors AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN us END)
                       AS s0,
                     max(us) AS last_us
              FROM base GROUP BY user_id
              HAVING min(CASE WHEN event_type = 'signup' THEN us END)
                     IS NOT NULL
            ),
            conv AS (
              SELECT b.user_id, min(b.us) AS p0
              FROM base b JOIN anchors a ON b.user_id = a.user_id
              WHERE b.event_type = 'purchase' AND b.us >= a.s0
              GROUP BY b.user_id
            ),
            obs AS (
              SELECT CAST(floor(
                       (coalesce(c.p0, a.last_us) - a.s0) / 60000000.0
                     ) AS BIGINT) AS t,
                     CASE WHEN c.p0 IS NOT NULL THEN 1 ELSE 0 END AS e
              FROM anchors a LEFT JOIN conv c ON a.user_id = c.user_id
            ),
            cnt AS (
              SELECT t, sum(e)::BIGINT AS d,
                     sum(1 - e)::BIGINT AS c
              FROM obs GROUP BY t
            ),
            tot AS (SELECT sum(d + c) AS n_total FROM cnt),
            risk AS (
              SELECT t, d, c,
                     (n_total - coalesce(sum(d + c) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS n
              FROM cnt, tot
            ),
            stepped AS (
              SELECT t, n, d, c,
                     sum(CASE WHEN d = 0 THEN 0
                              WHEN d < n THEN CAST(floor(
                                ln(1.0 - d / n) * 1e9) AS BIGINT)
                         END) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
                     max(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS dead
              FROM risk
            )
            SELECT t AS duration, n::BIGINT AS n_at_risk,
                   d AS d_events, c AS c_censored,
                   CASE WHEN dead = 1 THEN 0.0
                        ELSE floor(exp(cum / 1e9) * 1e6) / 1e6
                   END AS survival_q
            FROM stepped
        """


_SURV_OBS_SQL = """
            base AS (
              SELECT user_id, event_type, epoch_us(ts) AS us FROM events
            ),
            anchors AS (
              SELECT user_id,
                     min(CASE WHEN event_type = 'signup' THEN us END)
                       AS s0,
                     max(us) AS last_us
              FROM base GROUP BY user_id
              HAVING min(CASE WHEN event_type = 'signup' THEN us END)
                     IS NOT NULL
            ),
            conv AS (
              SELECT b.user_id, min(b.us) AS p0
              FROM base b JOIN anchors a ON b.user_id = a.user_id
              WHERE b.event_type = 'purchase' AND b.us >= a.s0
              GROUP BY b.user_id
            ),
            obs AS (
              SELECT CAST(floor(
                       (coalesce(c.p0, a.last_us) - a.s0) / 60000000.0
                     ) AS BIGINT) AS t,
                     CASE WHEN c.p0 IS NOT NULL THEN 1 ELSE 0 END AS e,
                     CAST(a.user_id % 2 AS INT) AS arm
              FROM anchors a LEFT JOIN conv c ON a.user_id = c.user_id
            )
"""

_NA_SQL = (
    "WITH "
    + _SURV_OBS_SQL
    + """,
            cnt AS (
              SELECT t, sum(e)::BIGINT AS d, sum(1 - e)::BIGINT AS c
              FROM obs GROUP BY t
            ),
            tot AS (SELECT sum(d + c) AS n_total FROM cnt),
            risk AS (
              SELECT t, d, c,
                     (n_total - coalesce(sum(d + c) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS n
              FROM cnt, tot
            ),
            stepped AS (
              SELECT t, n, d, c,
                     sum(CAST(floor(
                       CAST(d AS DOUBLE) * 1e9 / CAST(n AS DOUBLE)
                     ) AS BIGINT)) OVER (
                       ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum
              FROM risk
            )
            SELECT t AS duration, n::BIGINT AS n_at_risk,
                   d AS d_events, c AS c_censored,
                   floor(CAST(cum AS DOUBLE) / 1e3) / 1e6 AS hazard_q
            FROM stepped
        """
)

_LOGRANK_SQL = (
    "WITH "
    + _SURV_OBS_SQL
    + """,
            tagged AS (
              SELECT t, e,
                     CASE WHEN arm = (SELECT min(arm) FROM obs)
                          THEN 1 ELSE 0 END AS a
              FROM obs
            ),
            cnt AS (
              SELECT t,
                     sum(e * a)::BIGINT AS d_a,
                     sum(e * (1 - a))::BIGINT AS d_b,
                     sum((1 - e) * a)::BIGINT AS c_a,
                     sum((1 - e) * (1 - a))::BIGINT AS c_b
              FROM tagged GROUP BY t
            ),
            tot AS (
              SELECT sum(d_a + c_a) AS tot_a, sum(d_b + c_b) AS tot_b
              FROM cnt
            ),
            risk AS (
              SELECT t, d_a, d_b, tot_a, tot_b,
                     (tot_a - coalesce(sum(d_a + c_a) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS r_a,
                     (tot_b - coalesce(sum(d_b + c_b) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0)) AS r_b
              FROM cnt, tot
            ),
            ag AS (
              SELECT max(tot_a) AS tot_a, max(tot_b) AS tot_b,
                     sum(d_a)::BIGINT AS o_a,
                     sum(CAST(floor(
                       CAST((d_a + d_b) * r_a AS DOUBLE)
                       / CAST(r_a + r_b AS DOUBLE) * 1e9
                     ) AS BIGINT))::BIGINT AS e9,
                     sum(CAST(floor(
                       CAST((d_a + d_b) * r_a AS DOUBLE)
                       * CAST(r_b AS DOUBLE)
                       * CAST(r_a + r_b - d_a - d_b AS DOUBLE)
                       / (CAST(r_a + r_b AS DOUBLE)
                          * CAST(r_a + r_b AS DOUBLE)
                          * CAST(r_a + r_b - 1 AS DOUBLE))
                       * 1e9
                     ) AS BIGINT))::BIGINT AS v9
              FROM risk
              WHERE (d_a + d_b) > 0 AND (r_a + r_b) > 1
            )
            SELECT tot_a::BIGINT AS n_a, tot_b::BIGINT AS n_b, o_a,
                   floor(CAST(e9 AS DOUBLE) / 1e3) / 1e6 AS e_a_q6,
                   floor(CAST(v9 AS DOUBLE) / 1e3) / 1e6 AS v_q6,
                   CASE WHEN v9 > 0 THEN floor(
                     (CAST(o_a AS DOUBLE) - CAST(e9 AS DOUBLE) / 1e9)
                     * (CAST(o_a AS DOUBLE) - CAST(e9 AS DOUBLE) / 1e9)
                     / (CAST(v9 AS DOUBLE) / 1e9) * 1e6) / 1e6
                   END AS chi2_q6
            FROM ag
        """
)


def _lpa_unrolled_sql(rounds: int = 3) -> str:
    """DuckDB oracle for ``q_label_prop``: the synchronous rounds are
    UNROLLED as chained CTEs (the ``_kcore_unrolled_sql`` trick — and
    the same AS MATERIALIZED warning: each round references the
    previous label table twice). Round semantics mirror
    graph.label_propagation exactly: majority vote over labeled
    neighbors, smallest label on ties, seeds clamped, no-vote keeps
    the previous label."""
    ctes = [
        """raw AS MATERIALIZED (
          SELECT DISTINCT o_custkey AS src, (o_orderkey % 1500) AS dst
          FROM orders WHERE o_custkey <> (o_orderkey % 1500)
        )""",
        """sym AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM raw
            UNION ALL SELECT dst AS a, src AS b FROM raw
          )
        )""",
        """l0 AS MATERIALIZED (
          SELECT DISTINCT c_custkey AS node, c_mktsegment AS label,
                 TRUE AS is_seed
          FROM customer WHERE c_custkey % 10 = 0
        )""",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""v{i} AS MATERIALIZED (
              SELECT s.a AS node, l.label AS nl, count(*)::BIGINT AS c
              FROM sym s JOIN l{p} l ON s.b = l.node
              GROUP BY s.a, l.label
            ),
            b{i} AS MATERIALIZED (
              SELECT node, nl AS vote FROM (
                SELECT node, nl, row_number() OVER (
                  PARTITION BY node ORDER BY c DESC, nl ASC) AS rn
                FROM v{i}
              ) WHERE rn = 1
            ),
            l{i} AS MATERIALIZED (
              SELECT coalesce(l.node, b.node) AS node,
                     CASE WHEN coalesce(l.is_seed, FALSE) THEN l.label
                          ELSE coalesce(b.vote, l.label) END AS label,
                     coalesce(l.is_seed, FALSE) AS is_seed
              FROM l{p} l FULL JOIN b{i} b ON l.node = b.node
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, label, is_seed FROM l{rounds}"
        + " WHERE label IS NOT NULL"
    )


def _kcore_unrolled_sql(k: int = 4, rounds: int = 16) -> str:
    """DuckDB oracle for ``q_kcore``: k-core peeling removes rows, so it
    is not a monotone recursive CTE — instead the peel is UNROLLED as
    ``rounds`` chained CTEs, each keeping only edges whose two endpoints
    both still have degree >= k. Rounds past the fixpoint are no-ops
    (the keep-set stops changing), so the unroll IS the fixpoint while
    convergence <= ``rounds``; the derived orders graph converges in
    3-5 rounds at sf0.001-0.1, margin asserted in tests/test_graph.py.
    ``AS MATERIALIZED`` is load-bearing: each round references the
    previous one three times, and DuckDB's default CTE inlining would
    expand the chain 3^rounds-fold."""
    ctes = [
        """raw AS MATERIALIZED (
          SELECT DISTINCT (o_orderkey % m) AS a,
                          ((o_orderkey * 7 + o_custkey) % m) AS b
          FROM orders, (SELECT count(*) // 3 AS m FROM orders)
          WHERE (o_orderkey % m) <> ((o_orderkey * 7 + o_custkey) % m)
        )""",
        """e0 AS MATERIALIZED (
          SELECT DISTINCT a, b FROM (
            SELECT a, b FROM raw UNION ALL SELECT b AS a, a AS b FROM raw
          )
        )""",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""k{i} AS MATERIALIZED (
              SELECT a FROM e{p} GROUP BY a HAVING count(*) >= {k}
            ),
            e{i} AS MATERIALIZED (
              SELECT e.a, e.b FROM e{p} e
              JOIN k{i} x ON e.a = x.a JOIN k{i} y ON e.b = y.a
            )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT a AS node, count(*)::BIGINT AS degree"
        + f" FROM e{rounds} GROUP BY a"
    )


def oracle_sql() -> dict[str, str]:
    from png_from_pdf_extracter_spark.functions.text import (
        C1_PATTERN,
        MOJI_SUFFIX,
        MOJIBAKE_PATTERN,
        REPLACEMENT_CHAR,
    )

    enc_health = f"""
        WITH d AS (
          SELECT source,
                 CASE WHEN doc_id % 7 = 0 THEN text || '{MOJI_SUFFIX}'
                      ELSE text END AS text
          FROM documents
        ),
        h AS (
          SELECT source,
                 len(regexp_extract_all(text, '{MOJIBAKE_PATTERN}'))
                   AS moji,
                 len(regexp_extract_all(text, '{REPLACEMENT_CHAR}'))
                   AS repl,
                 len(regexp_extract_all(text, '{C1_PATTERN}')) AS c1
          FROM d
        )
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN moji > 0 OR repl > 0 OR c1 > 0
                   THEN 1 ELSE 0 END)::BIGINT AS suspect_docs,
          sum(moji)::BIGINT AS moji_marks,
          sum(repl)::BIGINT AS repl_chars,
          sum(c1)::BIGINT AS c1_chars
        FROM h GROUP BY source
    """
    # CTE chain shared by q_prf_expand / q_prf_rerank: first-pass BM25
    # top-10, feedback term counts, corpus df, expansion ranking —
    # mirrors search.prf_expand exactly (uniform-weight RM1)
    prf_common = """
        d AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> length(x) > 0
                 ) AS t
          FROM documents
        ),
        base AS (SELECT doc_id, len(t) AS dl, t FROM d),
        scalars AS (
          SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
        ),
        pairs AS (
          SELECT doc_id, dl, term, count(*) AS tf FROM (
            SELECT doc_id, dl, unnest(t) AS term FROM base
          ) WHERE term IN ('vector', 'stream', 'merge')
          GROUP BY doc_id, dl, term
        ),
        dft AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM pairs GROUP BY term
        ),
        scored AS (
          SELECT doc_id,
                 round(sum(
                   ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                 ), 4) AS score
          FROM pairs JOIN dft USING (term), scalars s
          GROUP BY doc_id
        ),
        top AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
          ) WHERE rank <= 10
        ),
        fbt AS (
          SELECT term, count(*)::BIGINT AS fb_tf FROM (
            SELECT unnest(t) AS term FROM base JOIN top USING (doc_id)
          ) WHERE term NOT IN ('vector', 'stream', 'merge')
            AND length(term) > 2
          GROUP BY term
        ),
        cdf AS (
          SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM (
            SELECT doc_id, unnest(t) AS term FROM base
          ) JOIN (SELECT term FROM fbt) USING (term) GROUP BY term
        ),
        nn AS (SELECT count(*) AS n_docs FROM base),
        expansion AS (
          SELECT term, fb_tf, df, rank FROM (
            SELECT f.term, f.fb_tf, c.df,
                   row_number() OVER (
                     ORDER BY f.fb_tf DESC, f.term ASC) AS rank
            FROM fbt f JOIN cdf c USING (term), nn
            WHERE c.df::DOUBLE <= 1.0 * n_docs::DOUBLE
          ) WHERE rank <= 10
        )
    """
    prf_expand_sql = (
        "WITH " + prf_common
        + ", fin AS (SELECT term, fb_tf, df, rank::INTEGER AS rank"
        + " FROM expansion) SELECT * FROM fin"
    )
    prf_rerank_sql = (
        "WITH " + prf_common
        + """,
        qterms AS (
          SELECT DISTINCT term FROM (
            SELECT term FROM expansion
            UNION ALL
            SELECT unnest(['vector', 'stream', 'merge']) AS term
          )
        ),
        pairs2 AS (
          SELECT doc_id, dl, term, count(*) AS tf FROM (
            SELECT doc_id, dl, unnest(t) AS term FROM base
          ) JOIN qterms USING (term)
          GROUP BY doc_id, dl, term
        ),
        dft2 AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM pairs2 GROUP BY term
        ),
        scored2 AS (
          SELECT doc_id,
                 count(*)::INTEGER AS n_terms_hit,
                 round(sum(
                   ln(1 + (s.n_docs - dft2.df + 0.5) / (dft2.df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                 ), 4) AS score
          FROM pairs2 JOIN dft2 USING (term), scalars s
          GROUP BY doc_id
        )
        SELECT doc_id, n_terms_hit, score, rank::INTEGER AS rank FROM (
          SELECT doc_id, n_terms_hit, score,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                   AS rank
          FROM scored2
        ) WHERE rank <= 20
    """
    )
    fp = (
        "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"
    )
    ntok = f"length(regexp_extract_all(text, '{_TOKEN_RE_SQL}'))"
    nstop = (
        f"length(regexp_extract_all(lower(text), '\\b(?:{_STOP_EN}|as|with|was|at|by|an|be|this|are|or)\\b'))"
    )
    # floor-quantized 4dp, like text.quality_score: round() flips on exact
    # .00005 boundaries across engines; floor of the identical double never
    qual = (
        f"floor((0.4::DOUBLE * least({ntok}::DOUBLE / 100.0, 1.0::DOUBLE)"
        f" + 0.3::DOUBLE * (CASE WHEN length(text) > 0 THEN"
        f" length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE"
        f" / length(text) ELSE 0.0::DOUBLE END)"
        f" + 0.3::DOUBLE * least((CASE WHEN {ntok} > 0 THEN"
        f" {nstop}::DOUBLE / {ntok} ELSE 0.0::DOUBLE END) * 5.0::DOUBLE,"
        f" 1.0::DOUBLE))::DOUBLE * 10000.0) / 10000.0"
    )
    curate_cte = f"""
        a AS (
          SELECT doc_id, {fp} AS fingerprint, {_LANG_CASE} AS lang,
                 {ntok} AS n_tokens, {qual} AS quality
          FROM documents
        ),
        k AS (
          SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keep
          FROM a
        )
    """
    out = {
        "q_sanitize": (
            "SELECT p_partkey, "
            + _SANITIZE_SQL.format(col="p_name")
            + " AS clean_name FROM part"
        ),
        "q_regex_whitelist": """
            SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE regexp_matches(source, '^src1[0-9]$')
            GROUP BY lang
        """,
        "q_explode_reassembly": """
            WITH ex AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) + 1),
                            i -> {'pos': i, 'word': w[i]})) AS u
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents)
            )
            SELECT doc_id,
                   string_agg(u.word, ' ' ORDER BY u.pos) AS reassembled,
                   count(*) AS n_words
            FROM ex WHERE u.word <> 'the'
            GROUP BY doc_id
        """,
        "q_window_order": """
            SELECT user_id, event_id, rn::INTEGER AS rn, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3
        """,
        "q_group_metrics": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value,
                   count(DISTINCT user_id) AS n_users,
                   min(floor(epoch(ts)))::BIGINT AS min_epoch,
                   max(floor(epoch(ts)))::BIGINT AS max_epoch
            FROM events GROUP BY event_type
        """,
        "q_error_classify": """
            SELECT error_class, count(*) AS n FROM (
              SELECT CASE
                WHEN event_type = 'error' AND value > 50 THEN 'hard_error'
                WHEN event_type = 'error' THEN 'soft_error'
                WHEN value > 90 THEN 'outlier'
                ELSE 'ok' END AS error_class
              FROM events
            ) GROUP BY error_class
        """,
        "q_dedup_exact": """
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            )
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dupes
            FROM ingested GROUP BY md5(text) HAVING count(*) > 1
        """,
        "q_chunk_dedup": """
            WITH ingested AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 500
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id < 500 AND doc_id % 7 = 0
            ),
            ch AS (
              SELECT doc_id, substring(text, off::INTEGER, 40) AS chunk
              FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 39, 40))
                         AS off
                FROM ingested WHERE length(text) >= 40
              )
            )
            SELECT chunk,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_occ,
                   min(doc_id) AS first_doc
            FROM ch GROUP BY chunk
            HAVING count(DISTINCT doc_id) >= 2
        """,
        "q_mix_weights": f"""
            WITH per AS (
              SELECT source,
                     sum(length(regexp_extract_all(text,
                       '{_TOKEN_RE_SQL}')))::BIGINT AS tokens
              FROM documents GROUP BY source
            )
            SELECT source, tokens,
                   round(tokens::DOUBLE / sum(tokens) OVER (), 6)
                     AS actual_share,
                   round(1.0::DOUBLE / count(*) OVER (), 6) AS target_share,
                   round((1.0::DOUBLE / count(*) OVER ())
                     / (tokens::DOUBLE / sum(tokens) OVER ()), 6) AS weight
            FROM per
        """,
        "q_fingerprint": f"""
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ' AS text
              FROM documents WHERE doc_id % 5 = 0
            )
            SELECT {fp} AS fp, min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM ingested GROUP BY {fp} HAVING count(*) > 1
        """,
        "q_dup_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(substring(text, 1, 4000))), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents WHERE doc_id < 400
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS h,
                     doc_id * 1000000000 + i AS k
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t) - 7
            ),
            grp AS (
              SELECT h, count(*) AS n, min(k) AS keeper FROM wins GROUP BY h
            ),
            dups AS (
              SELECT w.doc_id, w.pos
              FROM wins w JOIN grp USING (h)
              WHERE grp.n >= 2 AND w.k <> grp.keeper
            ),
            m AS (
              SELECT doc_id, pos,
                     max(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM dups
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING
                     ) AS island
              FROM m
            )
            SELECT doc_id::BIGINT AS doc_id,
                   min(pos)::INTEGER AS span_start,
                   (max(pos) + 7)::INTEGER AS span_end,
                   (max(pos) + 7 - min(pos) + 1)::INTEGER AS span_tokens
            FROM isl GROUP BY doc_id, island
        """,
        "q_dup_spans_apply": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(substring(text, 1, 4000))), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents WHERE doc_id < 400
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS h,
                     doc_id * 1000000000 + i AS k
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t) - 7
            ),
            grp AS (
              SELECT h, count(*) AS n, min(k) AS keeper FROM wins GROUP BY h
            ),
            dups AS (
              SELECT w.doc_id, w.pos
              FROM wins w JOIN grp USING (h)
              WHERE grp.n >= 2 AND w.k <> grp.keeper
            ),
            m AS (
              SELECT doc_id, pos,
                     max(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM dups
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING
                     ) AS island
              FROM m
            ),
            spans AS MATERIALIZED (
              -- MATERIALIZED: DuckDB otherwise inlines the windowed isl
              -- CTE into the correlated NOT EXISTS and rejects the plan
              -- ("LATERAL join cannot contain window functions")
              SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
              FROM isl GROUP BY doc_id, island
            ),
            tok_rows AS (
              SELECT doc_id, i AS p, t[i] AS tok
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t)
            ),
            kept AS (
              SELECT tr.doc_id, tr.p, tr.tok
              FROM tok_rows tr
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tr.doc_id AND tr.p BETWEEN s.s AND s.e
              )
            ),
            agg AS (
              SELECT doc_id, count(*) AS nk,
                     string_agg(tok, ' ' ORDER BY p) AS txt
              FROM kept GROUP BY doc_id
            )
            SELECT toks.doc_id::BIGINT AS doc_id,
                   len(t)::INTEGER AS n_tokens,
                   (len(t) - coalesce(agg.nk, 0))::INTEGER AS n_removed,
                   coalesce(agg.txt, '') AS text_clean
            FROM toks LEFT JOIN agg USING (doc_id)
        """,
        "q_bm25": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     count(*)::INTEGER AS n_terms_hit,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            )
            SELECT doc_id, n_terms_hit, score, rank::INTEGER AS rank FROM (
              SELECT doc_id, n_terms_hit, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank
              FROM scored
            ) WHERE rank <= 20
        """,
        "q_scene_cuts": """
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            vid AS (
              SELECT i,
                     8 + (i % 4) * 4 AS w,
                     8 + (i % 5) * 2 AS h,
                     2 + (i % 4) AS n_frames
              FROM ids WHERE i % 3 = 2
            ),
            px AS (
              SELECT vid.i, vid.w, vid.h, f,
                     abs(((x * 7 + y * 13 + f * 29 + vid.i * 3) % 256)
                         - ((x * 7 + y * 13 + (f - 1) * 29 + vid.i * 3)
                            % 256)) AS d
              FROM vid,
                   generate_series(1, 4) gf(f),
                   generate_series(0, 19) gx(x),
                   generate_series(0, 15) gy(y)
              WHERE f < vid.n_frames AND x < vid.w AND y < vid.h
            ),
            agg AS (
              SELECT i, w, h, f,
                     sum(d)::BIGINT AS s, count(*)::BIGINT AS npx
              FROM px GROUP BY i, w, h, f
            )
            SELECT i::BIGINT AS media_id,
                   (f + 1)::INTEGER AS frame_idx,
                   w::INTEGER AS width, h::INTEGER AS height,
                   ((s * 10000 // npx)::DOUBLE / 10000) AS mad,
                   (((s * 10000 // npx)::DOUBLE / 10000) > 52.0
                     )::INTEGER AS is_cut,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::INTEGER, NULL::DOUBLE, NULL::INTEGER,
                   'skipped', 'not_video'
            FROM ids WHERE i % 3 <> 2
        """,
        "q_video_stats": """
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            vid AS (
              SELECT i,
                     8 + (i % 4) * 4 AS w,
                     8 + (i % 5) * 2 AS h,
                     2 + (i % 4) AS n_frames
              FROM ids WHERE i % 3 = 2
            ),
            px AS (
              SELECT vid.i, vid.w, vid.h, f,
                     (x * 7 + y * 13 + f * 29 + vid.i * 3) % 256 AS p
              FROM vid,
                   generate_series(0, 4) gf(f),
                   generate_series(0, 19) gx(x),
                   generate_series(0, 15) gy(y)
              WHERE f < vid.n_frames AND x < vid.w AND y < vid.h
            ),
            agg AS (
              SELECT i, w, h, f,
                     sum(p)::BIGINT AS s, count(*)::BIGINT AS npx,
                     min(p)::INTEGER AS px_min, max(p)::INTEGER AS px_max
              FROM px GROUP BY i, w, h, f
            )
            SELECT i::BIGINT AS media_id,
                   (f + 1)::INTEGER AS frame_idx,
                   w::INTEGER AS width, h::INTEGER AS height,
                   ((s * 10000 // npx)::DOUBLE / 10000) AS px_mean,
                   px_min, px_max,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::INTEGER, NULL::DOUBLE, NULL::INTEGER,
                   NULL::INTEGER, 'skipped', 'not_video'
            FROM ids WHERE i % 3 <> 2
        """,
        "q_audio_stats": """
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            au AS (
              SELECT i,
                     1 + (i % 2) AS ch,
                     8000 * (1 + (i % 3)) AS rate,
                     (120 + (i * 17) % 180) * (1 + (i % 2)) AS n_total
              FROM ids WHERE i % 3 = 1
            ),
            sv AS (
              SELECT au.i, au.ch, au.rate, au.n_total,
                     ((au.i * 131 + t * 31 + (t * t) % 97) % 65536)
                       - 32768 AS s
              FROM au, generate_series(0, 599) g(t)
              WHERE t < au.n_total
            ),
            agg AS (
              SELECT i, ch, rate, n_total,
                     sum(s + 32768)::BIGINT AS shifted,
                     min(s)::INTEGER AS amp_min,
                     max(s)::INTEGER AS amp_max,
                     sum(s * s)::BIGINT AS energy
              FROM sv GROUP BY i, ch, rate, n_total
            )
            SELECT i::BIGINT AS media_id,
                   rate::INTEGER AS sample_rate,
                   ch::INTEGER AS channels,
                   (n_total // ch)::BIGINT AS n_frames,
                   ((n_total // ch) * 1000 // rate)::BIGINT
                     AS duration_ms,
                   ((shifted * 10000 // n_total)::DOUBLE / 10000)
                     - 32768 AS amp_mean,
                   amp_min, amp_max, energy,
                   'ok' AS status, '' AS error_class
            FROM agg
            UNION ALL
            SELECT i::BIGINT, NULL::INTEGER, NULL::INTEGER,
                   NULL::BIGINT, NULL::BIGINT, NULL::DOUBLE,
                   NULL::INTEGER, NULL::INTEGER, NULL::BIGINT,
                   'skipped', 'not_audio'
            FROM ids WHERE i % 3 <> 1
        """,
        "q_image_stats": """
            WITH ids AS (SELECT i FROM generate_series(0, 59) t(i)),
            img AS (
              SELECT i,
                     8 + (i % 5) * 4 AS w,
                     8 + (i % 3) * 4 AS h,
                     CASE WHEN i % 4 = 0 THEN 1 ELSE 3 END AS ch
              FROM ids WHERE i % 3 = 0
            ),
            px AS (
              SELECT img.i, img.w, img.h, img.ch,
                     CASE
                       WHEN img.ch = 1 THEN (x * 13 + y * 7 + img.i * 29) % 256
                       WHEN c = 0 THEN (x * 11 + img.i * 17) % 256
                       WHEN c = 1 THEN (y * 19 + img.i * 5) % 256
                       ELSE (x + y + img.i) % 256
                     END AS v
              FROM img,
                   generate_series(0, 15) gy(y),
                   generate_series(0, 23) gx(x),
                   generate_series(0, 2) gc(c)
              WHERE y < img.h AND x < img.w AND c < img.ch
            ),
            stats AS (
              SELECT i::BIGINT AS media_id,
                     w::INTEGER AS width, h::INTEGER AS height,
                     ch::INTEGER AS channels,
                     (((SUM(v) * 10000) // COUNT(*)) / 10000.0)::DOUBLE
                       AS px_mean,
                     MIN(v)::INTEGER AS px_min, MAX(v)::INTEGER AS px_max,
                     'ok' AS status, '' AS error_class
              FROM px GROUP BY i, w, h, ch
            )
            SELECT * FROM stats
            UNION ALL
            SELECT i::BIGINT AS media_id,
                   NULL::INTEGER AS width, NULL::INTEGER AS height,
                   NULL::INTEGER AS channels, NULL::DOUBLE AS px_mean,
                   NULL::INTEGER AS px_min, NULL::INTEGER AS px_max,
                   'skipped' AS status, 'not_an_image' AS error_class
            FROM ids WHERE i % 3 <> 0
        """,
        "q_rolling_fp": """
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ' AS text
              FROM documents WHERE doc_id % 5 = 0
            ),
            fps AS (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform(
                           string_split(lower(trim(
                             regexp_replace(text, '\\s+', ' ', 'g'))), ''),
                           ch -> ascii(ch)::BIGINT)),
                       (acc, code) -> (acc * 31 + code) % 1000000007
                     ) AS fp
              FROM ingested
            )
            SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM fps GROUP BY fp HAVING count(*) > 1
        """,
        "q_ngram_jaccard": f"""
            WITH {_SHINGLES_CTE},
            shf AS (
              SELECT sh.id, sh.shingle FROM sh
              JOIN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000) rare USING (shingle)
            ),
            sizes AS (SELECT id, count(*) AS n_sh FROM shf GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*)::DOUBLE AS common
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(common / (s1.n_sh + s2.n_sh - common), 4) AS jaccard
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE round(common / (s1.n_sh + s2.n_sh - common), 4) >= 0.5
        """,
        "q_minhash_lsh": f"""
            WITH {_SHINGLES_CTE}, {_MINHASH_PAIRS_CTES}
            SELECT id1, id2 FROM mh_pairs
        """,
        "q_dedup_components": f"""
            WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS node, least(a, min(b))::BIGINT AS component
            FROM reach GROUP BY a
        """,
        "q_simhash": """
            WITH toks AS (
              SELECT DISTINCT doc_id AS id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents
            ),
            h AS (
              SELECT id, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
              FROM toks WHERE length(tok) > 0
            ),
            s AS (
              SELECT id, pos, sum(((h >> pos) & 1) * 2 - 1) AS s
              FROM h, (SELECT unnest(range(0, 32)) AS pos)
              GROUP BY id, pos
            )
            SELECT id AS doc_id,
                   sum(CASE WHEN s > 0 THEN (1::BIGINT << pos) ELSE 0 END)::BIGINT AS simhash
            FROM s GROUP BY id
        """,
        "q_knn_cosine": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            )
            SELECT query_id, neighbor_id, rank::INTEGER AS rank, cos_sim FROM (
              SELECT query_id, neighbor_id, cos_sim,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "q_lang_id": f"""
            SELECT lang, {_LANG_CASE} AS detected, count(*) AS n
            FROM documents GROUP BY lang, {_LANG_CASE}
        """,
        "q_quality_tokens": f"""
            SELECT doc_id,
                   {ntok} AS n_tokens,
                   {qual} AS quality,
                   {nstop} AS n_stopwords
            FROM documents WHERE doc_id < 200
        """,
        "q_tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_join_topn": """
            SELECT n_name, revenue, n_orders, rank::INTEGER AS rank FROM (
              SELECT n_name, revenue, n_orders,
                     row_number() OVER (ORDER BY revenue DESC, n_name ASC) AS rank
              FROM (
                SELECT n_name, round(sum(o_totalprice), 2) AS revenue,
                       count(*) AS n_orders
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name
              )
            ) WHERE rank <= 10
        """,
        "q_cc_split": """
            SELECT doc_id,
                   array_to_string(list_filter(list_transform(
                     string_split(concat_ws(';', source, ' padded ', '', lang), ';'),
                     x -> trim(x)), x -> length(x) > 0), '|') AS cc_joined
            FROM documents WHERE doc_id < 100
        """,
        "q_embed_near_dup": """
            SELECT id1, id2, cos_sim FROM (
              SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(
                  list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                      i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(b.embedding) + 1),
                      i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM (SELECT * FROM embeddings WHERE vec_id < 500) a
              JOIN (SELECT * FROM embeddings WHERE vec_id < 500) b
                ON a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.35
        """,
        "q_simhash_neardup": """
            WITH toks AS (
              SELECT DISTINCT doc_id AS id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents
            ),
            h AS (
              SELECT id, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
              FROM toks WHERE length(tok) > 0
            ),
            s AS (
              SELECT id, pos, sum(((h >> pos) & 1) * 2 - 1) AS s
              FROM h, (SELECT unnest(range(0, 32)) AS pos)
              GROUP BY id, pos
            ),
            sig AS (
              SELECT id,
                     sum(CASE WHEN s > 0 THEN (1::BIGINT << pos) ELSE 0 END)::BIGINT
                       AS simhash
              FROM s GROUP BY id
            ),
            bands AS (
              SELECT id, simhash, band, (simhash >> (band * 16)) & 65535 AS band_val
              FROM sig, (SELECT unnest(range(0, 2)) AS band)
            )
            SELECT DISTINCT a.id AS doc1, b.id AS doc2,
                   bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val AND a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        """,
        "q_dedup_latest": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "q_sessionize": """
            WITH b AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS st
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            )
            SELECT user_id, event_id,
                   (sum(st) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING))::INTEGER
                     AS session_idx
            FROM b
        """,
        "q_session_stats": """
            WITH b AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS st
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ),
            s AS (
              SELECT user_id, ts,
                     (sum(st) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC
                                    ROWS UNBOUNDED PRECEDING))::INTEGER
                       AS session_idx
              FROM b
            )
            SELECT user_id, session_idx,
                   min(floor(epoch(ts)))::BIGINT AS start_epoch,
                   max(floor(epoch(ts)))::BIGINT AS end_epoch,
                   count(*) AS n_events,
                   (max(floor(epoch(ts))) - min(floor(epoch(ts))))::BIGINT
                     AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        "q_conv_rollup": """
            WITH t AS (
              SELECT source AS conv_id,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
                       AS turn_idx,
                     text
              FROM documents
            )
            SELECT conv_id,
                   string_agg(text, e'\n\n' ORDER BY turn_idx) AS conv_text,
                   count(*)::INTEGER AS n_turns,
                   sum(length(text))::BIGINT AS total_chars
            FROM t GROUP BY conv_id
        """,
        "q_argmax": """
            SELECT n_name, o_orderkey AS top_orderkey,
                   round(o_totalprice, 2) AS top_price
            FROM (
              SELECT n_name, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY n_name
                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey
            ) WHERE rn = 1
        """,
        "q_running_total": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id
                         ORDER BY ts ASC, event_id ASC
                         ROWS UNBOUNDED PRECEDING), 4) AS running_value,
                   lag(event_id) OVER w AS prev_event_id,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """,
        "q_date_trunc": """
            SELECT year(o_orderdate)::INTEGER AS yr,
                   quarter(o_orderdate)::INTEGER AS qtr,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(DISTINCT date_trunc('month', o_orderdate))
                     AS n_months
            FROM orders GROUP BY yr, qtr
        """,
        "q_array_funcs": """
            SELECT doc_id,
                   len(w)::INTEGER AS n_words,
                   list_aggregate(list_transform(w, x -> length(x)), 'sum')
                     ::INTEGER AS total_len,
                   list_aggregate(list_transform(w, x -> length(x)), 'max')
                     ::INTEGER AS max_len,
                   len(list_filter(list_transform(w, x -> length(x)),
                       x -> x > 6))::INTEGER AS n_long
            FROM (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> length(x) > 0) AS w
              FROM documents WHERE doc_id < 300
            )
        """,
        "q_validate": """
            SELECT violation, count(*) AS n FROM (
              SELECT CASE
                WHEN conv_id IS NULL OR length(conv_id) = 0
                  THEN 'conv_id_empty'
                WHEN turn_idx IS NULL OR turn_idx < 0
                  THEN 'turn_idx_negative'
                WHEN role IS NULL
                  OR role NOT IN ('user', 'assistant', 'system', 'tool')
                  THEN 'role_invalid'
                WHEN text IS NULL THEN 'text_null'
                WHEN strlen(text) > 5000 THEN 'text_oversized'
                WHEN ts IS NULL THEN 'ts_null'
                ELSE NULL END AS violation
              FROM (
                SELECT
                  CASE WHEN doc_id % 13 = 0 THEN '' ELSE source END
                    AS conv_id,
                  CASE WHEN doc_id % 11 = 0 THEN -1
                       ELSE (doc_id % 50)::INTEGER END AS turn_idx,
                  CASE WHEN doc_id % 7 = 0 THEN 'robot' ELSE 'user' END
                    AS role,
                  CASE WHEN doc_id % 17 = 0 THEN NULL ELSE text END AS text,
                  CASE WHEN doc_id % 19 = 0 THEN NULL
                       ELSE TIMESTAMP '2026-01-01 00:00:00' END AS ts
                FROM documents
              )
            ) GROUP BY violation
        """,
        "q_unpivot": """
            SELECT measure, round(sum(val), 2) AS total, count(*) AS n
            FROM (
              SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
              UNION ALL
              SELECT 'l_extendedprice', l_extendedprice FROM lineitem
              UNION ALL
              SELECT 'l_discount', l_discount FROM lineitem
              UNION ALL
              SELECT 'l_tax', l_tax FROM lineitem
            ) GROUP BY measure
        """,
        "q_cube": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS sum_disc_price
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "q_json_extract": """
            SELECT event_type,
                   sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k,
                   round(avg(json_extract(props, '$.k')::INTEGER), 4) AS avg_k,
                   max(json_extract(props, '$.k')::INTEGER) AS max_k,
                   count(CASE WHEN json_extract(props, '$.k') IS NULL
                         THEN 1 END) AS n_null
            FROM events GROUP BY event_type
        """,
        "q_pivot": """
            SELECT user_id,
                   count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
                   count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
                   count(CASE WHEN event_type = 'purchase' THEN 1 END)
                     AS purchase,
                   count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
                   count(CASE WHEN event_type = 'error' THEN 1 END) AS error
            FROM events GROUP BY user_id
        """,
        "q_incremental_profile": """
            SELECT event_type,
                   count(value)::BIGINT AS n,
                   round(sum(value) / count(value), 4) AS mean,
                   round(CASE WHEN count(value) >= 2 THEN
                     sqrt(greatest(
                       (sum(value * value)
                        - sum(value) * sum(value) / count(value))
                       / (count(value) - 1), 0.0)) END, 4) AS std,
                   round(min(value), 4) AS mn,
                   round(max(value), 4) AS mx
            FROM events GROUP BY event_type
        """,
        "q_profile": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.95), 4) AS p95,
                   round(avg(value), 4) AS mean_value
            FROM events GROUP BY event_type
        """,
        "q_curate": f"""
            WITH {curate_cte}
            SELECT doc_id, fingerprint, lang, n_tokens, quality
            FROM k
            WHERE doc_id = keep AND lang = 'en' AND quality >= 0.3
              AND n_tokens BETWEEN 10 AND 100000
        """,
        "q_curate_funnel": f"""
            WITH {curate_cte}
            SELECT stage, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
            FROM (
              SELECT n_tokens,
                     CASE WHEN doc_id <> keep THEN 'dup'
                          WHEN lang <> 'en' THEN 'lang'
                          WHEN quality < 0.3 THEN 'low_quality'
                          WHEN n_tokens < 10 OR n_tokens > 100000
                            THEN 'token_bounds'
                          ELSE 'kept' END AS stage
              FROM k
            ) GROUP BY stage
        """,
        "q_asof_attr": """
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   floor(epoch(p.ts))::BIGINT AS purchase_epoch,
                   c.event_id AS click_id,
                   round(c.value, 2) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "q_asof_skewed": """
            SELECT p.user_id,
                   p.event_id AS purchase_id,
                   floor(epoch(p.ts))::BIGINT AS purchase_epoch,
                   c.event_id AS click_id,
                   round(c.value, 2) AS click_value
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "q_asof_dim": """
            SELECT v.user_id, v.event_id AS view_id, s.event_id AS signup_id
            FROM (SELECT * FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'signup') s
              ON v.user_id = s.user_id AND v.ts >= s.ts
        """,
        "q_range_attr": """
            SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            JOIN (SELECT * FROM events WHERE event_type = 'error') e
              ON c.user_id = e.user_id
             AND c.ts >= e.ts
             AND c.ts <= e.ts + INTERVAL 600 SECONDS
        """,
        "q_tpch_q3": """
            SELECT l_orderkey, o_epoch, o_orderpriority, revenue,
                   rank::INTEGER AS rank FROM (
              SELECT l_orderkey, o_epoch, o_orderpriority, revenue,
                     row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC)
                       AS rank
              FROM (
                SELECT l_orderkey,
                       floor(epoch(o_orderdate))::BIGINT AS o_epoch,
                       o_orderpriority,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                  AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
                  AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
                GROUP BY l_orderkey, o_epoch, o_orderpriority
              )
            ) WHERE rank <= 10
        """,
        "q_rollup_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "q_set_ops": """
            SELECT user_id FROM events WHERE event_type = 'view'
            UNION
            SELECT user_id FROM events WHERE event_type = 'click'
            EXCEPT
            SELECT user_id FROM events
            WHERE event_type = 'error' AND value > 95
        """,
        "q_base64_decode": """
            SELECT doc_id,
                   length(to_base64(encode(text)))::INTEGER AS enc_len,
                   decode(from_base64(to_base64(encode(text)))) = text
                     AS roundtrip_ok,
                   substring(decode(from_base64(to_base64(encode(text)))),
                             1, 40) AS decoded_head
            FROM documents WHERE doc_id < 150
        """,
        "q_subject_prefix": """
            SELECT doc_id,
                   regexp_extract(
                     'User Name <user' || doc_id || '@' || source
                       || '.example>',
                     '<([^>]+)>', 1) AS sender,
                   'Re: ' || source || ' doc ' || doc_id AS reply_subject
            FROM documents WHERE doc_id < 100
        """,
        "q_units_roundtrip_sql": """
            WITH w AS (
              SELECT source, doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> length(x) > 0) AS w
              FROM documents
            ),
            u AS (
              SELECT source, doc_id,
                     unnest(list_transform(
                       range(0, cast(ceil(len(w) / 10.0) AS INTEGER)),
                       i -> {'unit_idx': i + 1,
                             'unit_text': array_to_string(
                               w[i * 10 + 1 : i * 10 + 10], ' ')})) AS u
              FROM w WHERE len(w) > 0
            )
            SELECT source AS conv_id, doc_id::INTEGER AS turn_idx,
                   string_agg(u.unit_text, e'\n\n' ORDER BY u.unit_idx)
                     AS extracted_text,
                   count(*)::INTEGER AS n_units
            FROM u GROUP BY source, doc_id
        """,
        "q_seq_pack": f"""
            WITH base AS (
              SELECT source, doc_id, {ntok}::BIGINT AS n_tok FROM documents
            ),
            p AS (
              SELECT source, doc_id, n_tok,
                     CAST(floor(coalesce(sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 2000.0) AS INTEGER) AS seq_idx
              FROM base
            )
            SELECT source, seq_idx, count(*) AS n_docs,
                   sum(n_tok)::BIGINT AS seq_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM p GROUP BY source, seq_idx
        """,
        "q_stratified_sample": """
            SELECT lang, count(*) AS n_total,
                   sum(CASE WHEN CAST(('0x' || substring(
                         md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 3
                       THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
                   round(sum(CASE WHEN CAST(('0x' || substring(
                         md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 3
                       THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS rate
            FROM documents GROUP BY lang
        """,
        "q_train_split": """
            WITH s AS (
              SELECT lang, doc_id,
                     CAST(('0x' || substring(
                       md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS h
              FROM documents
            )
            SELECT lang,
                   CASE WHEN h < 10 THEN 'test'
                        WHEN h < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   count(*) AS n_docs,
                   min(doc_id) AS min_id,
                   sum(doc_id)::BIGINT AS id_sum
            FROM s GROUP BY 1, 2
        """,
        "q_word_entropy": """
            WITH wc AS (
              SELECT doc_id, word, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0)) AS word
                FROM documents WHERE doc_id < 300
              ) GROUP BY doc_id, word
            ),
            agg AS (
              SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                     count(*)::BIGINT AS n_distinct,
                     sum(c * ln(c)) AS clogc
              FROM wc GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, n_distinct,
                   floor((ln(n_tokens) - clogc / n_tokens)
                         / 0.6931471805599453 * 10000) / 10000
                     AS entropy_bits
            FROM agg
        """,
        "q_contamination": """
            WITH shc AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> w[i] || ' ' || w[i+1])) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM documents)
                WHERE len(w) >= 2
              )
            )
            SELECT c.id AS doc_id,
                   count(DISTINCT c.shingle) AS n_shared_shingles,
                   count(DISTINCT b.bench_id) AS n_benchmark_docs
            FROM shc c
            JOIN (SELECT id AS bench_id, shingle FROM shc
                  WHERE id % 97 = 0) b USING (shingle)
            WHERE c.id <> b.bench_id
            GROUP BY c.id
        """,
        "q_gopher_quality": """
            WITH wx AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT doc_id, word, count(*) AS cnt
              FROM wx GROUP BY doc_id, word
            ),
            agg AS (
              SELECT doc_id, sum(cnt)::BIGINT AS n_words,
                     max(cnt)::BIGINT AS top_cnt,
                     sum(cnt * length(word))::BIGINT AS total_len
              FROM wc GROUP BY doc_id
            )
            SELECT doc_id, n_words,
                   round(total_len::DOUBLE / n_words, 4) AS mean_word_len,
                   round(top_cnt::DOUBLE / n_words, 4) AS top_word_ratio,
                   (n_words BETWEEN 5 AND 1000
                    AND round(total_len::DOUBLE / n_words, 4)
                        BETWEEN 2.0 AND 12.0
                    AND round(top_cnt::DOUBLE / n_words, 4) <= 0.2)
                     AS passes
            FROM agg
        """,
        "q_rank_family": """
            WITH pu AS (
              SELECT event_type, user_id, count(*) AS n
              FROM events GROUP BY event_type, user_id
            )
            SELECT event_type, user_id, n,
                   dense_rank() OVER t::INTEGER AS drank,
                   round(percent_rank() OVER t, 4) AS prank,
                   round(cume_dist() OVER t, 4) AS cdist,
                   ntile(4) OVER u::INTEGER AS quartile
            FROM pu
            WINDOW t AS (PARTITION BY event_type ORDER BY n DESC),
                   u AS (PARTITION BY event_type
                         ORDER BY n DESC, user_id ASC)
        """,
        "q_semi_anti": """
            SELECT n_name,
                   count(CASE WHEN ex THEN 1 END)::BIGINT AS n_with,
                   count(CASE WHEN NOT ex THEN 1 END)::BIGINT AS n_without
            FROM (SELECT c_custkey, c_nationkey,
                         EXISTS (SELECT 1 FROM orders
                                 WHERE o_custkey = c_custkey) AS ex
                  FROM customer) c
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_asof_forward": """
            SELECT c.user_id, c.event_id AS click_id,
                   floor(epoch(c.ts))::BIGINT AS click_epoch,
                   p.event_id AS next_purchase_id
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts <= p.ts
        """,
        "q_levenshtein": """
            SELECT p_partkey,
                   levenshtein(p_name, reverse(p_name))::INTEGER AS lev_rev,
                   levenshtein(substring(p_name, 1, 10),
                               'promo brush')::INTEGER AS lev_ref,
                   reverse(substring(p_name, 1, 10)) AS rev10
            FROM part WHERE p_partkey < 500
        """,
        "q_pandas_udf_tokens": f"""
            SELECT doc_id, {ntok}::BIGINT AS n_tokens_arrow,
                   {ntok}::BIGINT AS n_tokens_builtin
            FROM documents WHERE doc_id < 300
        """,
        "q_grouped_zscore": """
            SELECT user_id, event_id,
                   CASE WHEN stddev_samp(value) OVER w IS NULL
                          OR stddev_samp(value) OVER w = 0 THEN NULL
                        ELSE round((value - avg(value) OVER w)
                                   / stddev_samp(value) OVER w, 4)
                   END AS zscore
            FROM events WHERE event_type = 'view'
            WINDOW w AS (PARTITION BY user_id)
        """,
        "q_stats_agg": """
            SELECT event_type,
                   round(corr(value, floor(epoch(ts))), 4) AS corr_vt,
                   round(covar_samp(value, value), 4) AS var_value,
                   round(stddev_samp(value), 4) AS sd_value,
                   round(avg(value), 4) AS mean_value
            FROM events GROUP BY event_type
        """,
        "q_histogram": """
            SELECT event_type,
                   CAST(floor(value / 10.0) AS INTEGER) AS bin,
                   count(*) AS n,
                   round(min(value), 4) AS bin_min,
                   round(max(value), 4) AS bin_max
            FROM events GROUP BY event_type, bin
        """,
        "q_trailing_window": """
            SELECT user_id, event_id,
                   round(sum(value) OVER w, 2) AS trailing_1h_value,
                   count(*) OVER w AS trailing_1h_n
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY floor(epoch(ts))::BIGINT
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        """,
        "q_top_words": """
            WITH wc AS (
              SELECT word, count(*) AS df FROM (
                SELECT DISTINCT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(trim(text), '\\s+'),
                         x -> length(x) > 0)) AS word
                FROM documents
              ) GROUP BY word
            )
            SELECT word, df, rank::INTEGER AS rank FROM (
              SELECT word, df,
                     row_number() OVER (ORDER BY df DESC, word ASC) AS rank
              FROM wc
            ) WHERE rank <= 50
        """,
        "q_tfidf": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            tf AS (
              SELECT doc_id, word, count(*) AS tf
              FROM terms GROUP BY doc_id, word
            ),
            dft AS (
              SELECT word, count(*) AS df
              FROM (SELECT DISTINCT doc_id, word FROM terms) GROUP BY word
            ),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.word, tf.tf, dft.df,
                     round(tf.tf * ln(n.n_docs / dft.df), 4) AS score
              FROM tf JOIN dft USING (word), n
              WHERE tf.doc_id < 100
            )
            SELECT doc_id, word, tf, df, score, rank::INTEGER AS rank FROM (
              SELECT doc_id, word, tf, df, score,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, word ASC) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "q_tpch_q5": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "q_incr_dedup": f"""
            WITH old AS (SELECT * FROM documents WHERE doc_id < 250),
            new AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
              WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ',
                     lang, source, n_chars
              FROM old WHERE doc_id % 3 = 0
            ),
            old_fp AS (SELECT {fp} AS fp FROM old)
            SELECT lang,
                   count(*) AS n_new_unique,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM (SELECT lang, n_chars, {fp} AS fp FROM new) n
            WHERE NOT EXISTS (SELECT 1 FROM old_fp o WHERE o.fp = n.fp)
            GROUP BY lang
        """,
        "q_winsorize": """
            WITH stats AS (
              SELECT event_type,
                     quantile_cont(value, 0.05) AS p05,
                     quantile_cont(value, 0.95) AS p95
              FROM events GROUP BY event_type
            )
            SELECT e.event_type,
                   count(*) AS n,
                   sum((value < p05)::INTEGER)::BIGINT AS n_lo,
                   sum((value > p95)::INTEGER)::BIGINT AS n_hi,
                   round(avg(least(greatest(value, p05), p95)), 4)
                     AS mean_winsorized,
                   round(min(p05), 4) AS p05,
                   round(min(p95), 4) AS p95
            FROM events e JOIN stats s USING (event_type)
            GROUP BY e.event_type
        """,
        "q_weighted_sample": """
            WITH keyed AS (
              SELECT source, doc_id, n_chars,
                     pow(
                       (('0x' || substring(
                           md5(doc_id::VARCHAR || '|' || source), 1, 12)
                        )::BIGINT + 1.0) / 281474976710656.0,
                       1.0 / n_chars) AS skey
              FROM documents
            )
            SELECT source, doc_id, n_chars,
                   round(skey, 6) AS skey,
                   rank
            FROM (
              SELECT source, doc_id, n_chars, skey,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY skey DESC, doc_id ASC
                     )::INTEGER AS rank
              FROM keyed
            ) WHERE rank <= 10
        """,
        "q_funnel_steps": """
            WITH s AS (
              SELECT user_id, min(ts) AS signup_ts
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ),
            firstp AS (
              SELECT s.user_id, s.signup_ts,
                     min(p.ts) AS first_purchase_ts
              FROM s LEFT JOIN events p
                ON p.user_id = s.user_id
               AND p.event_type = 'purchase'
               AND p.ts >= s.signup_ts
              GROUP BY s.user_id, s.signup_ts
            )
            SELECT date_trunc('month', signup_ts)::DATE AS cohort_month,
                   count(*) AS n_signups,
                   count(first_purchase_ts) AS n_converted,
                   round(count(first_purchase_ts) / count(*)::DOUBLE, 4)
                     AS conv_rate,
                   round(avg(floor(epoch(first_purchase_ts))
                             - floor(epoch(signup_ts))),
                         2) AS avg_secs_to_convert
            FROM firstp
            GROUP BY cohort_month
        """,
        "q_nullsafe_join": """
            WITH l AS (
              SELECT nullif(event_type, 'error') AS k, value
              FROM events WHERE event_id % 2 = 0
            ),
            r AS (
              SELECT nullif(event_type, 'error') AS rk,
                     count(*) AS n_right
              FROM events WHERE event_id % 2 = 1
              GROUP BY rk
            )
            SELECT k,
                   count(*) AS n_left,
                   min(n_right) AS n_right,
                   round(sum(value), 2) AS sum_value
            FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.rk
            GROUP BY k
        """,
        "q_bloom_antijoin": """
            WITH seen AS (
              SELECT DISTINCT user_id FROM events
              WHERE event_type = 'purchase' AND value > 90
            )
            SELECT event_type,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users,
                   round(sum(value), 2) AS sum_value
            FROM events e
            WHERE NOT EXISTS (
              SELECT 1 FROM seen s WHERE s.user_id = e.user_id
            )
            GROUP BY event_type
        """,
        "q_embed_covariance": """
            WITH e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding)::DOUBLE AS x
              FROM embeddings
            ),
            tot AS (SELECT count(*)::DOUBLE AS n FROM embeddings)
            SELECT a.d AS d1, b.d AS d2,
                   floor(((sum(a.x * b.x)
                           - sum(a.x) * sum(b.x) / any_value(n))
                          / (any_value(n) - 1)) * 1000000) / 1000000
                     AS cov_q
            FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d, tot
            GROUP BY a.d, b.d
            ORDER BY d1, d2
        """,
        "q_pmi_bigrams": """
            WITH t AS (
              SELECT list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS w
              FROM documents
            ),
            big AS (
              SELECT unnest(w[1:len(w)-1]) AS a,
                     unnest(w[2:len(w)]) AS b
              FROM t WHERE len(w) >= 2
            ),
            n_ab AS (
              SELECT a, b, count(*)::BIGINT AS n_ab
              FROM big GROUP BY a, b
            ),
            uni AS (
              SELECT unnest(w) AS word FROM t
            ),
            n_w AS (
              SELECT word, count(*)::BIGINT AS n_w FROM uni GROUP BY word
            ),
            tot AS (
              SELECT (SELECT sum(n_ab)::BIGINT FROM n_ab) AS n_big,
                     (SELECT count(*)::BIGINT FROM uni) AS n_uni
            )
            SELECT p.a, p.b, p.n_ab,
                   floor((log2(p.n_ab) - log2(n_big)
                          - log2(ua.n_w) - log2(ub.n_w)
                          + 2.0 * log2(n_uni)) * 10000) / 10000 AS pmi_q
            FROM n_ab p
            JOIN n_w ua ON ua.word = p.a
            JOIN n_w ub ON ub.word = p.b, tot
            WHERE p.n_ab >= 5
            ORDER BY pmi_q DESC, p.a, p.b
            LIMIT 50
        """,
        "q_zipf_fit": """
            WITH terms AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            uni AS (
              SELECT word, count(*)::BIGINT AS cnt
              FROM terms GROUP BY word
              ORDER BY cnt DESC, word LIMIT 100
            ),
            ranked AS (
              SELECT log2(cnt) AS y,
                     log2(row_number() OVER (ORDER BY cnt DESC, word)) AS x
              FROM uni
            )
            SELECT count(*)::BIGINT AS n_tokens_ranked,
                   round(regr_slope(y, x), 4) AS slope,
                   round(regr_r2(y, x), 4) AS r2
            FROM ranked
        """,
        "q_jsd_split": """
            WITH terms AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS s,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            cnt AS (
              SELECT word, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM cnt
            )
            SELECT count(*)::BIGINT AS n_words,
                   max(ta)::BIGINT AS n_tokens_a,
                   max(tb)::BIGINT AS n_tokens_b,
                   floor(sum(
                     CASE WHEN ca > 0 THEN
                       0.5 * (ca / CAST(ta AS DOUBLE))
                       * log2((ca / CAST(ta AS DOUBLE))
                              / ((ca / CAST(ta AS DOUBLE)
                                  + cb / CAST(tb AS DOUBLE)) / 2))
                     ELSE 0.0 END
                     +
                     CASE WHEN cb > 0 THEN
                       0.5 * (cb / CAST(tb AS DOUBLE))
                       * log2((cb / CAST(tb AS DOUBLE))
                              / ((ca / CAST(ta AS DOUBLE)
                                  + cb / CAST(tb AS DOUBLE)) / 2))
                     ELSE 0.0 END
                   ) * 1000000) / 1000000 AS jsd_q
            FROM cnt, tot
        """,
        "q_edit_distance": """
            WITH x AS (
              SELECT p_partkey AS id, lower(p_name) AS t,
                     substring(lower(p_name), 1, 10) AS blk
              FROM part
            ),
            pairs AS (
              SELECT a.id AS id1, b.id AS id2,
                     levenshtein(a.t, b.t) AS dist
              FROM x a JOIN x b ON a.blk = b.blk AND a.id < b.id
                AND abs(length(a.t) - length(b.t)) <= 2
            )
            SELECT dist, count(*)::BIGINT AS n_pairs,
                   sum(id1 + id2)::BIGINT AS id_sum
            FROM pairs WHERE dist <= 2
            GROUP BY dist ORDER BY dist
        """,
        "q_event_transitions": """
            WITH seq AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS from_type,
                     event_type AS to_type
              FROM events
            ),
            pairs AS (
              SELECT from_type, to_type, count(*)::BIGINT AS n
              FROM seq WHERE from_type IS NOT NULL
              GROUP BY from_type, to_type
            ),
            tot AS (
              SELECT from_type, sum(n)::BIGINT AS n_from
              FROM pairs GROUP BY from_type
            )
            SELECT p.from_type, p.to_type, p.n,
                   round(p.n / CAST(n_from AS DOUBLE), 6) AS p
            FROM pairs p JOIN tot USING (from_type)
            ORDER BY from_type, to_type
        """,
        "q_chi2_terms": """
            WITH terms AS (
              SELECT lang AS cls,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT cls, word, count(*)::BIGINT AS n11
              FROM terms GROUP BY cls, word
            ),
            cls_tot AS (
              SELECT cls, count(*)::BIGINT AS n_cls
              FROM terms GROUP BY cls
            ),
            word_tot AS (
              SELECT word, sum(n11)::BIGINT AS n_word FROM wc GROUP BY word
            ),
            grand AS (SELECT sum(n_cls)::BIGINT AS n_all FROM cls_tot)
            SELECT cls AS class, word, n11,
                   floor(
                     (CAST(n_all AS DOUBLE)
                      * (CAST(n11 AS DOUBLE) * CAST(n_all - n_cls - n_word + n11 AS DOUBLE)
                         - CAST(n_word - n11 AS DOUBLE) * CAST(n_cls - n11 AS DOUBLE))
                      * (CAST(n11 AS DOUBLE) * CAST(n_all - n_cls - n_word + n11 AS DOUBLE)
                         - CAST(n_word - n11 AS DOUBLE) * CAST(n_cls - n11 AS DOUBLE)))
                     / ((CAST(n11 AS DOUBLE) + CAST(n_word - n11 AS DOUBLE))
                        * (CAST(n_cls - n11 AS DOUBLE) + CAST(n_all - n_cls - n_word + n11 AS DOUBLE))
                        * (CAST(n11 AS DOUBLE) + CAST(n_cls - n11 AS DOUBLE))
                        * (CAST(n_word - n11 AS DOUBLE) + CAST(n_all - n_cls - n_word + n11 AS DOUBLE)))
                     * 10000) / 10000 AS chi2_q
            FROM wc JOIN cls_tot USING (cls) JOIN word_tot USING (word), grand
            WHERE n11 >= 5
            ORDER BY chi2_q DESC, class, word
            LIMIT 50
        """,
        "q_price_histogram": """
            WITH s AS (
              SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
              FROM orders
            )
            SELECT least(floor((o_totalprice - mn) / ((mx - mn) / 20)),
                         19)::INT AS bucket,
                   count(*)::BIGINT AS n,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi
            FROM orders, s
            GROUP BY bucket ORDER BY bucket
        """,
        "q_ab_test": """
            WITH per_user AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              AND value > 150 THEN 1
                         ELSE 0 END) AS conv,
                     (user_id % 2)::INT AS arm
              FROM events GROUP BY user_id
            ),
            m AS (
              SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_a,
                     sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT
                       AS conv_a,
                     sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT
                       AS n_b,
                     sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT
                       AS conv_b
              FROM per_user
            )
            SELECT n_a, conv_a, n_b, conv_b,
                   round(
                     (conv_a / CAST(n_a AS DOUBLE)
                      - conv_b / CAST(n_b AS DOUBLE))
                     / sqrt(
                         ((conv_a + conv_b) / CAST(n_a + n_b AS DOUBLE))
                         * (1 - (conv_a + conv_b)
                                / CAST(n_a + n_b AS DOUBLE))
                         * (1 / CAST(n_a AS DOUBLE)
                            + 1 / CAST(n_b AS DOUBLE))),
                     6) AS z
            FROM m
        """,
        "q_trend_per_group": """
            SELECT event_type, count(*)::BIGINT AS n,
                   round(regr_slope(value, epoch(ts) / 86400.0), 6)
                     AS slope_per_day
            FROM events
            WHERE value IS NOT NULL
            GROUP BY event_type
            ORDER BY event_type
        """,
        "q_vocab_growth": """
            WITH toks AS (
              SELECT doc_id % 10 AS m,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS w
              FROM documents
            ),
            terms AS (
              SELECT m,
                     unnest(w[1:len(w)-2]) || ' ' || unnest(w[2:len(w)-1])
                       || ' ' || unnest(w[3:len(w)]) AS word
              FROM toks WHERE len(w) >= 3
            ),
            per_word AS (
              SELECT word, min(m) AS first_m FROM terms GROUP BY word
            ),
            tok_per_m AS (
              SELECT m, count(*)::BIGINT AS n_tok FROM terms GROUP BY m
            ),
            ks AS (SELECT unnest(generate_series(1, 10))::INT AS k),
            vocab AS (
              SELECT k, count(*)::BIGINT AS vocab
              FROM ks JOIN per_word ON first_m < k GROUP BY k
            ),
            tokens AS (
              SELECT k, sum(n_tok)::BIGINT AS n_tokens
              FROM ks JOIN tok_per_m ON m < k GROUP BY k
            ),
            pts AS (
              SELECT k, n_tokens, vocab,
                     log2(n_tokens) AS x, log2(vocab) AS y
              FROM vocab JOIN tokens USING (k)
            ),
            slope AS (
              SELECT round(regr_slope(y, x), 4) + 0.0 AS heaps_beta
              FROM pts
            )
            SELECT k, n_tokens, vocab, heaps_beta
            FROM pts, slope
            ORDER BY k
        """,
        "q_ks_drift": """
            WITH u AS (
              SELECT round(value, 2) AS v, 1 AS s FROM events
              WHERE event_type = 'view' AND value IS NOT NULL
              UNION ALL
              SELECT round(value, 2) AS v, 0 AS s FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS cb, sum(1 - s)::BIGINT AS cc
              FROM u GROUP BY v
            ),
            cum AS (
              SELECT sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS kb,
                     sum(cc) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS kc
              FROM cnt
            ),
            tot AS (
              SELECT sum(cb)::BIGINT AS nb, sum(cc)::BIGINT AS nc FROM cnt
            )
            SELECT any_value(nb)::BIGINT AS n_base,
                   any_value(nc)::BIGINT AS n_cur,
                   max(abs(kb * nc - kc * nb))::BIGINT AS ks_num,
                   round(max(abs(kb * nc - kc * nb))
                         / CAST(any_value(nb) * any_value(nc) AS DOUBLE),
                         6) AS ks
            FROM cum, tot
        """,
        "q_perplexity": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            freq AS (
              SELECT word, count(*) AS cnt FROM terms GROUP BY word
            ),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq)
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(-avg(ln(cnt / total)), 3) AS avg_nll,
                   round(exp(-avg(ln(cnt / total))), 1) AS ppl
            FROM terms JOIN freq USING (word), tot
            GROUP BY doc_id
        """,
        "q_forward_fill": """
            SELECT user_id, event_id, event_type,
                   round(last_value(
                     CASE WHEN event_type = 'purchase' THEN value END
                     IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     4) AS last_purchase_value
            FROM events
            WHERE user_id < 20
        """,
        "q_ntile_deciles": """
            SELECT decile, count(*) AS n_orders,
                   round(min(o_totalprice), 2) AS lo,
                   round(max(o_totalprice), 2) AS hi,
                   round(sum(o_totalprice), 2) AS volume
            FROM (
              SELECT o_totalprice,
                     ntile(10) OVER (
                       ORDER BY o_totalprice ASC, o_orderkey ASC
                     )::INTEGER AS decile
              FROM orders
            )
            GROUP BY decile
        """,
        "q_sql_surface": """
            WITH top_docs AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id
                     )::INTEGER AS rn
              FROM documents
            ),
            ev AS (
              SELECT event_type, count(*) AS n_events,
                     round(avg(value), 4) AS avg_value
              FROM events GROUP BY event_type
            )
            SELECT t.source, t.doc_id, t.n_chars, t.rn,
                   e.event_type, e.n_events, e.avg_value
            FROM top_docs t
            CROSS JOIN ev e
            WHERE t.rn <= 2 AND e.event_type = 'click'
        """,
        "q_tpch_q6": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "q_tpch_q10": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q_tpch_q7": """
            SELECT supp_nation, cust_nation, l_year,
                   round(sum(volume), 2) AS revenue,
                   count(*) AS n_items
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     EXTRACT(year FROM l_shipdate)::INTEGER AS l_year,
                     l_extendedprice * (1 - l_discount) AS volume
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON s_nationkey = n1.n_nationkey
              JOIN nation n2 ON c_nationkey = n2.n_nationkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                  OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "q_tpch_q13": """
            SELECT c_count, count(*) AS custdist
            FROM (
              SELECT c_custkey,
                     coalesce(per.n_orders, 0)::BIGINT AS c_count
              FROM customer
              LEFT JOIN (
                SELECT o_custkey, count(*) AS n_orders
                FROM orders WHERE o_orderpriority <> '1-URGENT'
                GROUP BY o_custkey
              ) per ON c_custkey = per.o_custkey
            )
            GROUP BY c_count
        """,
        "q_tpch_q15": """
            WITH rev AS (
              SELECT l_suppkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
              GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "q_tpch_q17": """
            WITH li_b AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#23'
            ),
            avg_q AS (
              SELECT l_partkey AS ak, avg(l_quantity) * 0.5 AS half_avg_qty
              FROM li_b GROUP BY l_partkey
            )
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
                   count(*) AS n_items
            FROM li_b JOIN avg_q ON l_partkey = ak
            WHERE l_quantity < half_avg_qty
        """,
        "q_tpch_q22": """
            SELECT c_nationkey, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT avg(c_acctbal) FROM customer
                    WHERE c_acctbal > 0.0
                  )
              AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
                  )
            GROUP BY c_nationkey
        """,
        "q_line_dedup": """
            WITH lined AS (
              SELECT doc_id,
                     [substr(text, 1, 40), substr(text, 41, 40),
                      substr(text, 1, 40), substr(text, 81, 40)] AS lines
              FROM documents
            ),
            flat AS (
              SELECT doc_id,
                     unnest(list_transform(
                       lines, (x, i) -> struct_pack(line := x, pos := i)
                     )) AS u
              FROM lined
            ),
            pos AS (
              SELECT doc_id, u.line AS line, u.pos AS pos FROM flat
            ),
            firsts AS (
              SELECT doc_id, line, min(pos) AS pos
              FROM pos GROUP BY doc_id, line
            )
            SELECT p.doc_id,
                   count(*)::INTEGER AS n_lines,
                   (SELECT count(*) FROM firsts f
                    WHERE f.doc_id = p.doc_id)::INTEGER AS n_unique_lines,
                   (SELECT string_agg(f.line, chr(10) ORDER BY f.pos)
                    FROM firsts f WHERE f.doc_id = p.doc_id)
                     AS cleaned_text
            FROM pos p
            GROUP BY p.doc_id
        """,
        "q_time_weighted_avg": """
            WITH s AS (
              SELECT user_id,
                     floor(value * 100.0)::BIGINT AS vq,
                     lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY ts ASC, floor(value * 100.0)::BIGINT ASC
                     ) - epoch_us(ts) AS dur
              FROM events
            )
            SELECT user_id,
                   count(*)::BIGINT AS n_intervals,
                   sum(dur)::BIGINT AS total_dur_us,
                   CASE WHEN sum(dur) > 0 THEN
                     floor(sum(vq * dur)::BIGINT::DOUBLE
                           / (sum(dur)::BIGINT * 100)::DOUBLE * 1e6) / 1e6
                   END AS twa_q
            FROM s WHERE dur IS NOT NULL
            GROUP BY user_id
        """,
        "q_weighted_median": f"""
            WITH base AS (
              SELECT lang, n_chars AS len_chars,
                     {ntok} AS w
              FROM documents
            ),
            m AS (
              SELECT lang, len_chars,
                     sum(w) OVER (PARTITION BY lang
                                  ORDER BY len_chars ASC, w ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cumw,
                     sum(w) OVER (PARTITION BY lang) AS total
              FROM base
            )
            SELECT lang, max(total)::BIGINT AS total_w,
                   min(len_chars) AS wq_value
            FROM m WHERE cumw * 2 >= total * 1
            GROUP BY lang
        """,
        "q_rendezvous_shard": """
            WITH sh AS (
              SELECT u.s AS s, u.i AS i FROM (
                SELECT unnest(list_transform(range(0, 8),
                       i -> {'s': 's0' || i::VARCHAR, 'i': i})) AS u
              )
            ),
            a AS (
              SELECT doc_id,
                     arg_max(s,
                       CAST(concat('0x',
                         substr(md5(doc_id::VARCHAR || ':' || s), 1, 8))
                         AS BIGINT) * 64 + i) AS shard
              FROM documents, sh
              GROUP BY doc_id
            )
            SELECT shard, count(*) AS n_docs,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                   sum(doc_id)::BIGINT AS sum_doc
            FROM a GROUP BY shard
        """,
        "q_boilerplate_strip": """
            WITH planted AS (
              SELECT doc_id,
                     concat(
                       CASE WHEN doc_id % 3 = 0
                            THEN 'JOIN OUR NEWSLETTER TODAY' || chr(10)
                            ELSE '' END,
                       text,
                       CASE WHEN doc_id % 5 = 0
                            THEN chr(10) || 'COPYRIGHT 2026 ALL RIGHTS RESERVED'
                            ELSE '' END
                     ) AS text
              FROM documents
            ),
            l AS (
              SELECT doc_id, u.pos AS pos, u.line AS line FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ln) + 1),
                              i -> {'pos': i, 'line': ln[i]})) AS u
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ln
                      FROM planted)
              )
            ),
            ldf AS (
              SELECT line, count(DISTINCT doc_id) AS ldf
              FROM l GROUP BY line
            ),
            kept AS (
              SELECT doc_id, pos, line
              FROM l JOIN ldf USING (line) WHERE ldf <= 2
            ),
            tot AS (
              SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id
            ),
            reb AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   md5(coalesce(reb.clean_text, '')) AS clean_md5,
                   coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
                   (t.n_lines - coalesce(reb.n_kept, 0))::BIGINT AS n_dropped
            FROM tot t LEFT JOIN reb USING (doc_id)
        """,
        "q_source_similarity": """
            WITH toks AS (
              SELECT source AS g,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            tf AS (SELECT g, tok, count(*) AS c FROM toks GROUP BY g, tok),
            norms AS (SELECT g, sum(c * c)::BIGINT AS n2 FROM tf GROUP BY g),
            dots AS (
              SELECT a.g AS src1, b.g AS src2, sum(a.c * b.c)::BIGINT AS dot
              FROM tf a JOIN tf b USING (tok) WHERE a.g < b.g
              GROUP BY a.g, b.g
            )
            SELECT src1, src2, dot,
                   floor(dot::DOUBLE
                         / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
                         * 1e6) / 1e6 AS cos_q
            FROM dots
            JOIN norms na ON na.g = src1
            JOIN norms nb ON nb.g = src2
        """,
        "q_ndcg": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            g AS (
              SELECT query_id,
                     count(*) AS n_ranked,
                     list((pow(2.0, rel) - 1.0) / log2(rank + 1.0)
                          ORDER BY rank) AS dterms,
                     list(rel ORDER BY rel DESC) AS ideal
              FROM judged GROUP BY query_id
            ),
            f AS (
              SELECT query_id, n_ranked,
                     list_aggregate(dterms, 'sum') AS dcg_raw,
                     list_aggregate(list_transform(
                       range(1, len(ideal) + 1),
                       i -> (pow(2.0, ideal[i]) - 1.0) / log2(i + 1.0)
                     ), 'sum') AS idcg_raw
              FROM g
            )
            SELECT query_id,
                   n_ranked::INTEGER AS n_ranked,
                   floor(dcg_raw * 1e6) / 1e6 AS dcg,
                   floor(idcg_raw * 1e6) / 1e6 AS idcg,
                   CASE WHEN idcg_raw > 0 THEN
                     floor(dcg_raw / idcg_raw * 1e6) / 1e6
                   END AS ndcg
            FROM f
        """,
        "q_bfs_hops": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            walk(node, d) AS (
              SELECT DISTINCT src AS node, 0 AS d FROM e WHERE src < 10
              UNION
              SELECT e.dst, w.d + 1 FROM walk w
              JOIN e ON e.src = w.node WHERE w.d < 3
            )
            SELECT node, min(d)::INTEGER AS hops
            FROM walk GROUP BY node
        """,
        "q_calibration": """
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            )
            SELECT least(greatest(
                     floor(((s4::DOUBLE / 10000.0) - (-1.0)) / 0.2)::INTEGER,
                     0), 9) AS bin,
                   count(*)::BIGINT AS n,
                   sum(y)::BIGINT AS n_pos,
                   sum(y)::DOUBLE / count(*)::DOUBLE AS pos_rate,
                   sum(s4)::DOUBLE / (count(*) * 10000)::DOUBLE AS mean_score
            FROM sc GROUP BY 1
        """,
        "q_decontaminate": """
            WITH shc AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> w[i] || ' ' || w[i+1])) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM documents)
                WHERE len(w) >= 2
              )
            ),
            hits AS (
              SELECT c.id
              FROM shc c
              JOIN (SELECT id AS bench_id, shingle FROM shc
                    WHERE id % 97 = 0) b USING (shingle)
              WHERE c.id <> b.bench_id
              GROUP BY c.id
              HAVING count(DISTINCT c.shingle) >= 25
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS sum_chars,
                   min(doc_id) AS min_doc_id
            FROM documents
            WHERE doc_id NOT IN (SELECT id FROM hits)
            GROUP BY source
        """,
        "q_jaccard_prefix": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*) AS c
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(c::DOUBLE / (s1.n + s2.n - c), 4) AS jaccard
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE c * 18000 >= 8000 * (s1.n + s2.n)
        """,
        "q_skew_report": """
            WITH counts AS (
              SELECT event_type, user_id, count(*) AS c
              FROM events GROUP BY event_type, user_id
            ),
            ranked AS (
              SELECT event_type, user_id, c,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY c ASC, user_id ASC) AS r
              FROM counts
            ),
            a AS (
              SELECT event_type,
                     sum(c)::BIGINT AS n_rows,
                     count(*)::BIGINT AS n_keys,
                     max(c)::BIGINT AS max_key_rows,
                     sum(r * c)::BIGINT AS s2
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n_rows, n_keys, max_key_rows,
                   floor((max_key_rows::DOUBLE / n_rows::DOUBLE) * 1e6)
                     / 1e6 AS top1_share,
                   floor(((2 * s2)::DOUBLE / (n_keys * n_rows)::DOUBLE
                          - (n_keys + 1)::DOUBLE / n_keys::DOUBLE) * 1e6)
                     / 1e6 AS gini,
                   ((max_key_rows * n_keys + n_rows - 1) // n_rows)::BIGINT
                     AS hot_factor
            FROM a
        """,
        "q_chunk_sliding": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0
                     ) AS toks
              FROM documents
            ),
            b AS (
              SELECT doc_id, toks, len(toks) AS n
              FROM t WHERE len(toks) > 0
            ),
            s AS (
              SELECT doc_id, toks, n, unnest(range(0, n, 40)) AS start
              FROM b
            )
            SELECT doc_id,
                   (start // 40)::INTEGER AS chunk_idx,
                   start::INTEGER AS start,
                   len(toks[start + 1 : start + 50])::INTEGER
                     AS n_chunk_tokens,
                   md5(array_to_string(toks[start + 1 : start + 50], ' '))
                     AS chunk_fp
            FROM s
        """,
        "q_embed_quantize": """
            WITH m AS (
              SELECT vec_id,
                     list_transform(embedding, x -> x::DOUBLE) AS v,
                     list_max(list_transform(embedding,
                                             x -> abs(x::DOUBLE))) AS amax
              FROM embeddings
            ),
            s AS (
              SELECT vec_id, v, amax, amax / 127.0 AS scale FROM m
            )
            SELECT vec_id,
                   len(v)::INTEGER AS dims,
                   CASE WHEN amax > 0
                        THEN floor(scale * 1e9) / 1e9 ELSE 0.0 END
                     AS scale_q,
                   CASE WHEN amax > 0 THEN
                     list_sum(list_transform(v,
                       x -> floor(x / scale + 0.5)::BIGINT))::BIGINT
                   ELSE 0 END AS sum_codes,
                   CASE WHEN amax > 0 THEN
                     floor(list_max(list_transform(v,
                       x -> abs(x - floor(x / scale + 0.5) * scale)))
                       * 1e9) / 1e9
                   ELSE 0.0 END AS max_abs_err
            FROM s
        """,
        "q_rrf_fusion": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            ),
            lex AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id ASC)
                         AS rank
                FROM scored
              ) WHERE rank <= 20
            ),
            q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
            cos AS (
              SELECT neighbor_id,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM (SELECT vec_id AS neighbor_id, embedding AS cvec
                    FROM embeddings WHERE vec_id <> 0), q
            ),
            dense AS (
              SELECT neighbor_id AS doc_id, rank FROM (
                SELECT neighbor_id,
                       row_number() OVER (ORDER BY cos_sim DESC,
                                          neighbor_id ASC) AS rank
                FROM cos
              ) WHERE rank <= 20
            ),
            fused AS (
              SELECT coalesce(lex.doc_id, dense.doc_id) AS id,
                     lex.rank AS rank_a,
                     dense.rank AS rank_b,
                     floor((
                       (CASE WHEN lex.rank IS NOT NULL
                             THEN 1.0 / (60.0 + lex.rank) ELSE 0.0 END)
                       + (CASE WHEN dense.rank IS NOT NULL
                               THEN 1.0 / (60.0 + dense.rank) ELSE 0.0 END)
                     ) * 1e9) / 1e9 AS rrf_q
              FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
            )
            SELECT id, rank_a::INTEGER AS rank_a, rank_b::INTEGER AS rank_b,
                   rrf_q,
                   row_number() OVER (ORDER BY rrf_q DESC, id ASC)::INTEGER
                     AS fused_rank
            FROM fused
        """,
        "q_triangles": """
            WITH e AS (
              SELECT DISTINCT least(o_custkey, o_orderkey % 1500) AS a,
                              greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
            )
            SELECT node, count(*)::BIGINT AS n_triangles
            FROM (SELECT unnest([x, y, z]) AS node FROM tri)
            GROUP BY node
        """,
        "q_classifier_auc": """
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            r AS (
              SELECT source, y, score,
                     2 * rank() OVER (PARTITION BY source ORDER BY score)
                       + count(*) OVER (PARTITION BY source, score) - 1 AS r2
              FROM sc
            ),
            a AS (
              SELECT source,
                     sum(y)::BIGINT AS n_pos,
                     (count(*) - sum(y))::BIGINT AS n_neg,
                     sum(CASE WHEN y = 1 THEN r2 ELSE 0 END)::BIGINT AS r2pos,
                     sum(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
                     sum(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
                     sum(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
                     sum(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
              FROM r GROUP BY source
            )
            SELECT source, n_pos, n_neg,
                   (r2pos - n_pos * (n_pos + 1))::BIGINT AS auc_num2,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     (r2pos - n_pos * (n_pos + 1))::DOUBLE
                       / (2 * n_pos * n_neg)::DOUBLE
                   END AS auc,
                   tp, fp, fn, tn
            FROM a
        """,
        "q_readability": """
            WITH m AS (
              SELECT doc_id,
                     len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0))::BIGINT AS n_words,
                     greatest(length(regexp_extract_all(text, '[.!?]+')),
                              1)::BIGINT AS n_sentences,
                     length(regexp_extract_all(lower(text),
                              '[aeiouy]+'))::BIGINT AS n_syllables
              FROM documents
            ),
            f AS (
              SELECT *,
                     CASE WHEN n_words > 0 THEN
                       floor((206.835
                              - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                              - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
                             * 10000) / 10000
                     END AS flesch
              FROM m
            )
            SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
                   CASE WHEN flesch >= 60 THEN 'easy'
                        WHEN flesch >= 30 THEN 'medium'
                        WHEN flesch IS NOT NULL THEN 'hard'
                   END AS band
            FROM f
        """,
        "q_hash_classifier": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0
                     ) AS tok
              FROM documents
            )
            SELECT doc_id,
                   len(tok)::INTEGER AS n_toks,
                   floor((CASE WHEN len(tok) > 0 THEN
                     list_sum(list_transform(tok, t ->
                       CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                          % 2001 - 1000
                     ))::DOUBLE / (len(tok) * 1000.0)
                   ELSE 0.0 END) * 10000) / 10000 AS score,
                   (CASE WHEN len(tok) > 0 THEN
                     list_sum(list_transform(tok, t ->
                       CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                          % 2001 - 1000
                     ))
                   ELSE 0 END) > 0 AS keep
            FROM toks
        """,
        "q_tpch_q2": """
            WITH offers AS (
              SELECT l_partkey, l_suppkey,
                     min(l_extendedprice * (1 - l_discount)) AS offer
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ),
            best AS (
              SELECT l_partkey AS bk, min(offer) AS best_offer
              FROM offers GROUP BY l_partkey
            )
            SELECT p_partkey, p_name, s_name, n_name,
                   floor(offer * 100) / 100 AS best_price
            FROM offers
            JOIN best ON l_partkey = bk AND offer = best_offer
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_type = 'STANDARD' AND r_name = 'EUROPE'
        """,
        "q_tpch_q8": """
            SELECT EXTRACT(year FROM o_orderdate)::INTEGER AS o_year,
                   round(
                     sum(CASE WHEN sn.n_name = 'NATION_5'
                         THEN l_extendedprice * (1 - l_discount)
                         ELSE 0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4
                   ) AS mkt_share
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
             AND r_name = 'AMERICA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY o_year
        """,
        "q_tpch_q9": """
            SELECT n_name,
                   EXTRACT(year FROM l_shipdate)::INTEGER AS o_year,
                   round(sum(l_extendedprice * (1 - l_discount)
                             - 0.1 * p_retailprice * l_quantity), 2)
                     AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_name LIKE '%gear%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name, o_year
        """,
        "q_tpch_q11": """
            WITH scoped AS (
              SELECT l_partkey, l_extendedprice
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
               AND n_name IN ('NATION_3', 'NATION_8')
            )
            SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
            FROM scoped
            GROUP BY l_partkey
            HAVING sum(l_extendedprice) >
                   (SELECT sum(l_extendedprice) * 0.001 FROM scoped)
        """,
        "q_tpch_q16": """
            SELECT p_brand, p_type,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#2' AND p_size IN (5, 11, 23, 37)
              AND l_suppkey NOT IN (
                    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY p_brand, p_type
        """,
        "q_tpch_q20": """
            SELECT s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
            WHERE s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
               AND p_name LIKE 'small%'
              WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 40)
        """,
        "q_tpch_q21": """
            SELECT s_name, count(*)::BIGINT AS numwait
            FROM supplier, lineitem l1, orders
            WHERE s_suppkey = l1.l_suppkey
              AND o_orderkey = l1.l_orderkey
              AND o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                    SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name
        """,
        "q_tpch_q4": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R'
              )
            GROUP BY o_orderpriority
        """,
        "q_tpch_q12": """
            SELECT l_linestatus,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_linestatus
        """,
        "q_tpch_q14": """
            SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4)
                     AS promo_revenue_pct,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
        """,
        "q_tpch_q18": """
            SELECT c_custkey, c_name, o_orderkey, o_totalprice,
                   big.total_qty AS sum_qty
            FROM orders
            JOIN (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 95
            ) big ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q_tpch_q19": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 25)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                   AND l_quantity BETWEEN 10 AND 35)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 30
                   AND l_quantity BETWEEN 20 AND 45)
        """,
        "q_pii_scrub": """
            WITH f AS (
              SELECT doc_id,
                     'contact user' || doc_id::VARCHAR || '@' || source
                       || '.example.com or +1-555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.'
                       || ((doc_id * 7) % 256)::VARCHAR
                       || ' re: ' || substring(text, 1, 60) AS t
              FROM documents WHERE doc_id < 500
            )
            SELECT doc_id,
                   length(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                   ))::INTEGER AS n_emails,
                   length(regexp_extract_all(t,
                     '\\+1-555-[0-9]{4}'))::INTEGER AS n_phones,
                   length(regexp_extract_all(t,
                     '\\b10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'
                   ))::INTEGER AS n_ips,
                   substring(regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\\+1-555-[0-9]{4}', '<PHONE>', 'g'),
                     '\\b10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                     1, 80) AS scrubbed_head
            FROM f
        """,
        "q_corpus_diff": f"""
            WITH v1 AS (
              SELECT doc_id, {fp} AS fp1 FROM documents
              WHERE doc_id % 13 <> 5
            ),
            v2 AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' [edited]' ELSE text END,
                       '\\s+', ' ', 'g')))) AS fp2
              FROM documents WHERE doc_id % 11 <> 3
            )
            SELECT CASE WHEN fp1 IS NULL THEN 'added'
                        WHEN fp2 IS NULL THEN 'removed'
                        WHEN fp1 <> fp2 THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   count(*) AS n_docs
            FROM v1 FULL OUTER JOIN v2 USING (doc_id)
            GROUP BY change
        """,
        "q_domain_cap": """
            SELECT source, doc_id, n_chars, rn FROM (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id
                     )::INTEGER AS rn
              FROM documents
            ) WHERE rn <= 5
        """,
        "q_retention_cohort": """
            WITH ev AS (
              SELECT user_id, CAST(ts AS DATE) AS day FROM events
            ),
            coh AS (
              SELECT user_id, min(day) AS cohort_day
              FROM ev GROUP BY user_id
            ),
            act AS (
              SELECT DISTINCT e.user_id, c.cohort_day,
                     date_diff('day', c.cohort_day, e.day) AS day_offset
              FROM ev e JOIN coh c USING (user_id)
            )
            SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
                   day_offset::INTEGER AS day_offset,
                   count(*) AS n_users
            FROM act GROUP BY 1, 2
        """,
        "q_url_extract": """
            SELECT domain, count(*) AS n_refs FROM (
              SELECT unnest(regexp_extract_all(
                'see https://' || source || '.example.com/d/'
                  || doc_id::VARCHAR || ' and http://mirror-' || lang
                  || '.example.org/x ref ' || substring(text, 1, 40),
                'https?://([A-Za-z0-9.-]+)', 1)) AS domain
              FROM documents
            ) GROUP BY domain
        """,
        "q_vector_stats": """
            WITH n AS (
              SELECT label,
                     sqrt(list_aggregate(list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       'sum')) AS norm,
                     CAST(embedding[1] AS DOUBLE) AS c0
              FROM embeddings
            )
            SELECT label, count(*) AS n,
                   round(min(norm), 4) AS min_norm,
                   round(max(norm), 4) AS max_norm,
                   round(avg(norm), 4) AS avg_norm,
                   round(avg(c0), 4) AS avg_c0
            FROM n GROUP BY label
        """,
        "q_dedup_ratio": f"""
            WITH u AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ', source
              FROM documents WHERE doc_id % 5 = 0
            ),
            f AS (SELECT source, {fp} AS fp FROM u)
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT fp) AS n_distinct,
                   round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 4)
                     AS dup_ratio
            FROM f GROUP BY source
        """,
        "q_unicode_normalize": """
            SELECT doc_id,
                   length(t)::INTEGER AS len_before,
                   length(nfc_normalize(t))::INTEGER AS len_after,
                   nfc_normalize(t) AS normalized
            FROM (
              SELECT doc_id,
                     'cafe' || chr(769) || ' ' || substring(text, 1, 40)
                       || ' re' || chr(769) || 'sume' || chr(769) AS t
              FROM documents WHERE doc_id < 200
            )
        """,
        "q_merge_upsert": """
            WITH t AS (
              SELECT o_orderkey AS k, o_orderstatus AS status,
                     o_totalprice AS price
              FROM orders
            ),
            src AS (
              SELECT k, 'U' AS status, price + 1000.0 AS price,
                     false AS deleted
              FROM t WHERE k % 7 = 0
              UNION ALL
              SELECT k, 'X', 0.0, true
              FROM t WHERE k % 13 = 0 AND k % 7 <> 0
              UNION ALL
              SELECT k + 10000000, 'N', 1.0, false FROM t WHERE k % 17 = 0
            ),
            j AS (
              SELECT COALESCE(t.k, src.k) AS k,
                     t.k IS NOT NULL AS in_t,
                     src.k IS NOT NULL AS in_s,
                     COALESCE(src.deleted, false) AS del,
                     CASE WHEN src.k IS NOT NULL THEN src.status
                          ELSE t.status END AS status,
                     CASE WHEN src.k IS NOT NULL THEN src.price
                          ELSE t.price END AS price
              FROM t FULL OUTER JOIN src ON t.k = src.k
            )
            SELECT k, status, price FROM j
            WHERE (in_t AND NOT in_s) OR (in_s AND NOT del)
        """,
        "q_scd2": """
            WITH cur AS (
              SELECT c_custkey AS k, c_mktsegment AS seg FROM customer
            ),
            upd AS (
              SELECT c_custkey AS k,
                     CASE WHEN c_custkey % 2 = 0 THEN c_mktsegment
                          ELSE 'CHANGED' END AS seg,
                     5 AS ts
              FROM customer WHERE c_custkey % 3 = 0
              UNION ALL
              SELECT c_custkey + 1000000, 'NEW', 5
              FROM customer WHERE c_custkey % 11 = 0
            ),
            j AS (
              SELECT cur.k AS ck, cur.seg AS cseg,
                     upd.k AS uk, upd.seg AS useg, upd.ts AS ts
              FROM cur FULL OUTER JOIN upd ON cur.k = upd.k
            )
            SELECT ck AS k, cseg AS seg, 0 AS valid_from,
                   CAST(NULL AS INTEGER) AS valid_to, true AS is_current
            FROM j WHERE ck IS NOT NULL AND (uk IS NULL OR cseg = useg)
            UNION ALL
            SELECT ck, cseg, 0, ts, false
            FROM j
            WHERE ck IS NOT NULL AND uk IS NOT NULL AND cseg <> useg
            UNION ALL
            SELECT uk, useg, ts, CAST(NULL AS INTEGER), true
            FROM j WHERE uk IS NOT NULL AND (ck IS NULL OR cseg <> useg)
        """,
        "q_hits": """
            WITH e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            -- iteration 1: hub_0 = 1
            a1 AS (SELECT dst AS node, count(*)::BIGINT AS auth
                   FROM e GROUP BY dst),
            h1 AS (SELECT src AS node, sum(COALESCE(a1.auth, 0))::BIGINT
                     AS hub
                   FROM e LEFT JOIN a1 ON e.dst = a1.node GROUP BY src),
            -- iteration 2
            a2 AS (SELECT dst AS node, sum(COALESCE(h1.hub, 0))::BIGINT
                     AS auth
                   FROM e LEFT JOIN h1 ON e.src = h1.node GROUP BY dst),
            h2 AS (SELECT src AS node, sum(COALESCE(a2.auth, 0))::BIGINT
                     AS hub
                   FROM e LEFT JOIN a2 ON e.dst = a2.node GROUP BY src)
            SELECT n.node,
                   COALESCE(h2.hub, 0)::BIGINT AS hub,
                   COALESCE(a2.auth, 0)::BIGINT AS auth
            FROM nodes n
            LEFT JOIN h2 ON n.node = h2.node
            LEFT JOIN a2 ON n.node = a2.node
        """,
        "q_pagerank": """
            WITH e AS (
              SELECT DISTINCT o_custkey AS src, o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
            r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank
                   FROM nodes),
            c1 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r0 ON e.src = r0.node GROUP BY dst),
            r1 AS (SELECT n.node,
                          CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
            c2 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r1 ON e.src = r1.node GROUP BY dst),
            r2 AS (SELECT n.node,
                          CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                               AS BIGINT) AS rank
                   FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
            c3 AS (SELECT dst AS node, sum(rank // deg) AS in_sum
                   FROM e JOIN deg USING (src)
                   JOIN r2 ON e.src = r2.node GROUP BY dst)
            SELECT n.node,
                   CAST(150000000 + (85 * COALESCE(in_sum, 0)) // 100
                        AS BIGINT) AS rank
            FROM nodes n LEFT JOIN c3 ON n.node = c3.node
        """,
        "q_dsir_weights": """
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            tb AS (
              SELECT doc_id, lang,
                     CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                       % 1024 AS b
              FROM toks
            ),
            raw AS (SELECT b, count(*) AS n_raw FROM tb GROUP BY b),
            tgt AS (SELECT b, count(*) AS n_tgt FROM tb
                    WHERE lang = 'en' GROUP BY b),
            lut AS (
              SELECT raw.b,
                     ((COALESCE(n_tgt, 0) + 1) * 1000000) // (n_raw + 1)
                       AS lr
              FROM raw LEFT JOIN tgt ON raw.b = tgt.b
            )
            SELECT doc_id, count(*) AS n_toks,
                   CAST(sum(lr) // count(*) AS BIGINT) AS w_avg
            FROM tb JOIN lut USING (b)
            GROUP BY doc_id
        """,
        "q_url_canonical": """
            WITH noisy AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                           ELSE 'http://' END)
                     || source || '.Example.COM/d/'
                     || CAST(doc_id % 100 AS VARCHAR)
                     || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0
                         THEN '?utm_source=x&ref=y' ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN '#frag'
                         ELSE '' END) AS url
              FROM documents
            ),
            canon AS (
              SELECT regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(url),
                                        '^https?://(www\\.)?', ''),
                         '[?#].*$', ''),
                       '/$', '') AS curl
              FROM noisy
            ),
            withdom AS (
              SELECT curl, regexp_extract(curl, '^([^/]+)', 1) AS domain
              FROM canon
            )
            SELECT domain, count(*) AS n_urls,
                   count(DISTINCT curl) AS n_canonical
            FROM withdom
            WHERE domain NOT IN ('src0.example.com', 'src7.example.com')
            GROUP BY domain
        """,
        "q_cms_freq": """
            WITH toks AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            depths AS (SELECT unnest(range(4)) AS d),
            cells AS (
              SELECT d,
                     CAST(concat('0x', substr(
                       md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8))
                       AS BIGINT) % 512 AS w
              FROM toks, depths
            ),
            sketch AS (SELECT d, w, count(*) AS cnt
                       FROM cells GROUP BY d, w),
            top AS (
              SELECT tok, count(*) AS exact FROM toks GROUP BY tok
              ORDER BY exact DESC, tok ASC LIMIT 20
            ),
            icells AS (
              SELECT tok, exact, d,
                     CAST(concat('0x', substr(
                       md5(CAST(d AS VARCHAR) || ':' || tok), 1, 8))
                       AS BIGINT) % 512 AS w
              FROM top, depths
            )
            SELECT tok AS item, min(cnt) AS est, exact
            FROM icells JOIN sketch USING (d, w)
            GROUP BY tok, exact
        """,
        "q_skew_join": """
            WITH l AS (
              SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'HOT'
                          ELSE 'k' || CAST(o_custkey % 97 AS VARCHAR)
                     END AS key,
                     o_orderkey AS lv
              FROM orders
            ),
            r AS (
              SELECT key, length(key) AS rtag FROM (
                SELECT DISTINCT
                       'k' || CAST(c_custkey % 97 AS VARCHAR) AS key
                FROM customer WHERE c_custkey % 97 < 40
                UNION ALL SELECT 'HOT'
              )
            )
            SELECT key, count(*) AS n, CAST(sum(lv) AS BIGINT) AS sum_lv,
                   CAST(max(rtag) AS INTEGER) AS rtag
            FROM l JOIN r USING (key)
            GROUP BY key
        """,
        "q_grouping_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   (CASE WHEN o_orderstatus IS NULL THEN 2 ELSE 0 END
                    + CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                     AS gid,
                   count(*) AS n,
                   round(sum(o_totalprice), 2) AS total
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q_inverted_index": """
            WITH pairs AS (
              SELECT DISTINCT doc_id, unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 2)) AS term
              FROM documents
            )
            SELECT term, count(*) AS df,
                   array_to_string(
                     list_sort(list(doc_id))[1:10], ',') AS postings_head
            FROM pairs
            GROUP BY term
            HAVING count(*) >= 20
        """,
        "q_bigram_perplexity": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2
            ),
            bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
            bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
            ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT word)::DOUBLE AS v
              FROM (SELECT unnest(t) AS word FROM toks)
            )
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-avg(ln((c12 + 1) / (c1 + v))), 3) AS avg_nll,
                   round(exp(-avg(ln((c12 + 1) / (c1 + v)))), 1) AS ppl
            FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1), voc
            GROUP BY doc_id
        """,
        "q_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            g2 AS (
              SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)
            ),
            g3 AS (
              SELECT doc_id,
                     t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 2)) AS i
                    FROM toks WHERE len(t) >= 3)
            ),
            a2 AS (
              SELECT doc_id,
                     round(1 - count(*)::DOUBLE / sum(cnt), 4)
                       AS dup_2gram_frac,
                     round(max(cnt)::DOUBLE / sum(cnt), 4)
                       AS top_2gram_frac
              FROM (SELECT doc_id, gram, count(*) AS cnt
                    FROM g2 GROUP BY doc_id, gram)
              GROUP BY doc_id
            ),
            a3 AS (
              SELECT doc_id,
                     round(1 - count(*)::DOUBLE / sum(cnt), 4)
                       AS dup_3gram_frac,
                     round(max(cnt)::DOUBLE / sum(cnt), 4)
                       AS top_3gram_frac
              FROM (SELECT doc_id, gram, count(*) AS cnt
                    FROM g3 GROUP BY doc_id, gram)
              GROUP BY doc_id
            )
            SELECT doc_id, dup_2gram_frac, top_2gram_frac,
                   dup_3gram_frac, top_3gram_frac,
                   (dup_2gram_frac <= 0.6 AND top_2gram_frac <= 0.08
                    AND dup_3gram_frac <= 0.6 AND top_3gram_frac <= 0.08)
                     AS passes
            FROM a2 JOIN a3 USING (doc_id)
        """,
        "q_ppl_buckets": """
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            freq AS (
              SELECT word, count(*) AS cnt FROM terms GROUP BY word
            ),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq),
            ppl AS (
              SELECT doc_id,
                     round(exp(-avg(ln(cnt / total))), 1) AS ppl
              FROM terms JOIN freq USING (word), tot
              GROUP BY doc_id
            ),
            lab AS (
              SELECT d.lang, p.ppl,
                     (ARRAY['head', 'middle', 'tail'])[
                       ntile(3) OVER (PARTITION BY d.lang
                                      ORDER BY p.ppl, p.doc_id)] AS bucket
              FROM ppl p JOIN documents d USING (doc_id)
            )
            SELECT lang, bucket, count(*) AS n_docs,
                   round(min(ppl), 1) AS min_ppl,
                   round(max(ppl), 1) AS max_ppl
            FROM lab
            GROUP BY lang, bucket
        """,
        "q_minhash_dedup_apply": f"""
            WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            losers AS (
              SELECT a AS doc_id FROM reach
              GROUP BY a HAVING least(a, min(b)) <> a
            )
            SELECT doc_id, source, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "q_bpe_pairs": """
            WITH toks AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wf AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
            idx AS (
              SELECT word, cnt,
                     unnest(generate_series(1, length(word) - 1)) AS i
              FROM wf WHERE length(word) >= 2
            ),
            pairs AS (SELECT substring(word, i, 2) AS pair, cnt FROM idx)
            SELECT pair, sum(cnt)::BIGINT AS n
            FROM pairs GROUP BY pair
            ORDER BY n DESC, pair
            LIMIT 20
        """,
        "q_robust_outliers": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS med
              FROM events GROUP BY event_type
            ),
            mad AS (
              SELECT e.event_type,
                     quantile_cont(abs(value - med), 0.5) AS mad,
                     min(med) AS med
              FROM events e JOIN med USING (event_type)
              GROUP BY e.event_type
            )
            SELECT e.event_type,
                   count(*) AS n,
                   sum((round(abs(0.6745 * (value - med) / mad), 4)
                        > 3.5)::INTEGER)::BIGINT AS n_outliers,
                   round(min(med), 4) AS med,
                   round(min(mad), 4) AS mad,
                   round(max(round(abs(0.6745 * (value - med) / mad), 4)),
                         4) AS max_mz
            FROM events e JOIN mad USING (event_type)
            GROUP BY e.event_type
        """,
        "q_expectations": """
            WITH m AS (
              SELECT count(*) AS n_rows,
                     count(*) FILTER (text IS NULL) AS null_text,
                     count(*) FILTER (lang IS NULL) AS null_lang,
                     count(doc_id) - count(DISTINCT doc_id) AS dup_id,
                     min(n_chars)::DOUBLE AS min_chars,
                     max(n_chars)::DOUBLE AS max_chars,
                     count(*) FILTER (lang IS NOT NULL AND lang NOT IN
                       ('en', 'de', 'fr', 'es', 'zh')) AS bad_lang,
                     avg(n_chars) AS mean_chars
              FROM documents
            )
            SELECT 'non_empty' AS check, '' AS col_name,
                   round(n_rows::DOUBLE, 6) AS observed,
                   n_rows > 0 AS passed FROM m
            UNION ALL SELECT 'complete', 'text',
                   round(null_text::DOUBLE, 6), null_text = 0 FROM m
            UNION ALL SELECT 'complete', 'lang',
                   round(null_lang::DOUBLE, 6), null_lang = 0 FROM m
            UNION ALL SELECT 'unique', 'doc_id',
                   round(dup_id::DOUBLE, 6), dup_id = 0 FROM m
            UNION ALL SELECT 'min_ge', 'n_chars',
                   round(min_chars, 6), min_chars >= 0 FROM m
            UNION ALL SELECT 'max_le', 'n_chars',
                   round(max_chars, 6), max_chars <= 1000000 FROM m
            UNION ALL SELECT 'in_set', 'lang',
                   round(bad_lang::DOUBLE, 6), bad_lang = 0 FROM m
            UNION ALL SELECT 'mean_between', 'n_chars',
                   round(mean_chars, 6),
                   mean_chars >= 10 AND mean_chars <= 100000 FROM m
        """,
        "q_psi_drift": """
            WITH base AS (
              SELECT event_type, value FROM events
              WHERE ts < TIMESTAMP '2024-01-16'
            ),
            cur AS (
              SELECT event_type, value FROM events
              WHERE ts >= TIMESTAMP '2024-01-16'
            ),
            edges AS (
              SELECT event_type,
                     list_transform(
                       quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       x -> round(x, 4)) AS edges
              FROM base GROUP BY event_type
            ),
            bb AS (
              SELECT b.event_type,
                     1 + len(list_filter(e.edges, x -> b.value > x))
                       AS bucket,
                     count(*) AS n_b
              FROM base b JOIN edges e USING (event_type)
              GROUP BY 1, 2
            ),
            cb AS (
              SELECT c.event_type,
                     1 + len(list_filter(e.edges, x -> c.value > x))
                       AS bucket,
                     count(*) AS n_c
              FROM cur c JOIN edges e USING (event_type)
              GROUP BY 1, 2
            ),
            j AS (
              SELECT coalesce(bb.event_type, cb.event_type) AS event_type,
                     coalesce(n_b, 0) AS n_b, coalesce(n_c, 0) AS n_c
              FROM bb FULL OUTER JOIN cb
                ON bb.event_type = cb.event_type AND bb.bucket = cb.bucket
            ),
            t AS (
              SELECT event_type, sum(n_b) AS tb, sum(n_c) AS tc
              FROM j GROUP BY event_type
            )
            SELECT j.event_type,
                   min(tb)::BIGINT AS n_base,
                   min(tc)::BIGINT AS n_cur,
                   round(sum(
                     ((n_c + 0.5) / (tc + 5.0) - (n_b + 0.5) / (tb + 5.0))
                     * ln(((n_c + 0.5) / (tc + 5.0))
                          / ((n_b + 0.5) / (tb + 5.0)))), 5) AS psi
            FROM j JOIN t USING (event_type)
            GROUP BY j.event_type
        """,
        "q_minhash_incr_dedup": f"""
            WITH old_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 250
            ),
            new_docs AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
              WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ',
                     lang, source, n_chars
              FROM documents WHERE doc_id < 250 AND doc_id % 3 = 0
            ),
            {_band_ctes("old_docs", "o")},
            {_band_ctes("new_docs", "n")},
            occ AS (SELECT DISTINCT band, band_hash FROM obands),
            hits AS (
              SELECT DISTINCT nb.id
              FROM nbands nb JOIN occ USING (band, band_hash)
            )
            SELECT lang, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM new_docs
            WHERE doc_id NOT IN (SELECT id FROM hits)
            GROUP BY lang
        """,
        "q_materialize_mix": """
            WITH totals AS (
              SELECT source, sum(n_chars)::DOUBLE AS t_s
              FROM documents GROUP BY source
            ),
            shared AS (
              SELECT source, t_s,
                     1.0 / (SELECT count(*) FROM totals) AS w_s
              FROM totals
            ),
            budget AS (SELECT min(t_s / w_s) AS b FROM shared),
            rates AS (
              SELECT source,
                     round(w_s * b / t_s * 1000000)::BIGINT AS keep_ppm
              FROM shared, budget
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS kept_chars
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))
                       AS BIGINT) % 1000000 < keep_ppm
            GROUP BY source
        """,
        "q_temperature_mix": """
            WITH totals AS (
              SELECT source, sum(n_chars)::DOUBLE AS t_s
              FROM documents GROUP BY source
            ),
            z AS (SELECT sum(pow(t_s, 0.5)) AS z FROM totals),
            shared AS (
              SELECT source, t_s, pow(t_s, 0.5) / z AS w_s
              FROM totals, z
            ),
            budget AS (SELECT min(t_s / w_s) AS b FROM shared),
            rates AS (
              SELECT source,
                     round(w_s * b / t_s * 1000000)::BIGINT AS keep_ppm
              FROM shared, budget
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS kept_chars
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))
                       AS BIGINT) % 1000000 < keep_ppm
            GROUP BY source
        """,
        "q_mann_whitney": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                     END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb_below,
                     coalesce(sum(ca) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS ca_below
              FROM cnt
            )
            SELECT sum(ca)::BIGINT AS n_a,
                   sum(cb)::BIGINT AS n_b,
                   sum(ca * (2 * cb_below + cb))::BIGINT AS u2_a,
                   sum(cb * (2 * ca_below + ca))::BIGINT AS u2_b,
                   CASE WHEN sum(ca) > 0 AND sum(cb) > 0 THEN
                     floor(sum(ca * (2 * cb_below + cb))::DOUBLE
                           / (2.0 * sum(ca) * sum(cb)) * 1e6) / 1e6
                   END AS auc_a
            FROM cum
        """,
        "q_spearman": """
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS qx,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS qy
              FROM orders JOIN customer ON o_custkey = c_custkey
              WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL
            ),
            rx AS (
              SELECT qx,
                     2 * coalesce(sum(c) OVER (
                       ORDER BY qx
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) + c + 1 AS r2x
              FROM (SELECT qx, count(*) AS c FROM base GROUP BY qx)
            ),
            ry AS (
              SELECT qy,
                     2 * coalesce(sum(c) OVER (
                       ORDER BY qy
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) + c + 1 AS r2y
              FROM (SELECT qy, count(*) AS c FROM base GROUP BY qy)
            ),
            s AS (
              SELECT count(*)::HUGEINT AS n,
                     sum(r2x::HUGEINT) AS sx,
                     sum(r2y::HUGEINT) AS sy,
                     sum(r2x::HUGEINT * r2x) AS sxx,
                     sum(r2y::HUGEINT * r2y) AS syy,
                     sum(r2x::HUGEINT * r2y) AS sxy
              FROM base JOIN rx USING (qx) JOIN ry USING (qy)
            )
            SELECT n::BIGINT AS n_pairs,
                   sx::BIGINT AS sx2,
                   sy::BIGINT AS sy2,
                   CASE WHEN (n * sxx - sx * sx) > 0
                         AND (n * syy - sy * sy) > 0 THEN
                     floor((n * sxy - sx * sy)::DOUBLE
                           / (sqrt((n * sxx - sx * sx)::DOUBLE)
                              * sqrt((n * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS rho
            FROM s
        """,
        "q_autocorr": """
            WITH seq AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS x,
                     lead(CAST(round(value * 100) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS y
              FROM events
            ),
            s AS (
              SELECT user_id,
                     count(*)::BIGINT AS n_pairs,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * x)::BIGINT AS sxx,
                     sum(y * y)::BIGINT AS syy,
                     sum(x * y)::BIGINT AS sxy
              FROM seq WHERE y IS NOT NULL
              GROUP BY user_id
            )
            SELECT user_id, n_pairs, sx, sy, sxy,
                   CASE WHEN (n_pairs * sxx - sx * sx) > 0
                         AND (n_pairs * syy - sy * sy) > 0 THEN
                     floor((n_pairs * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS r1
            FROM s
        """,
        "q_ewma": """
            WITH RECURSIVE seq AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            rec AS (
              SELECT user_id, rn, n, value::DOUBLE AS s
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT seq.user_id, seq.rn, seq.n,
                     rec.s * 0.75 + seq.value * 0.25
              FROM rec JOIN seq
                ON seq.user_id = rec.user_id AND seq.rn = rec.rn + 1
            )
            SELECT user_id, n::BIGINT AS n_events,
                   floor(s * 1e6) / 1e6 AS ewma
            FROM rec WHERE rn = n
        """,
        "q_kn_perplexity": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2
            ),
            bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
            bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
            ctx AS (
              SELECT w1, sum(c12) AS c1, count(*) AS n1fwd
              FROM bgc GROUP BY w1
            ),
            hist AS (SELECT w2, count(*) AS n1back FROM bgc GROUP BY w2),
            typ AS (SELECT count(*)::DOUBLE AS ntypes FROM bgc)
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-avg(ln(
                     greatest(c12 - 0.75, 0.0) / c1
                     + (0.75 * n1fwd / c1) * (n1back / ntypes)
                   )), 3) AS avg_nll,
                   round(exp(-avg(ln(
                     greatest(c12 - 0.75, 0.0) / c1
                     + (0.75 * n1fwd / c1) * (n1back / ntypes)
                   ))), 1) AS ppl
            FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
                 JOIN hist USING (w2), typ
            GROUP BY doc_id
        """,
        "q_kmv_distinct": """
            WITH hashed AS (
              SELECT DISTINCT event_type,
                     CAST(('0x' || substring(md5(user_id::VARCHAR), 1, 15))
                          AS BIGINT) AS h
              FROM events
            ),
            ranked AS (
              SELECT event_type, h,
                     row_number() OVER (
                       PARTITION BY event_type ORDER BY h
                     ) AS rank
              FROM hashed
            )
            SELECT event_type,
                   count(*)::BIGINT AS n_seen,
                   CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                        ELSE floor(
                          63 * 1152921504606846976.0
                          / max(CASE WHEN rank = 64 THEN h END)
                        )::BIGINT
                   END AS est_distinct
            FROM ranked WHERE rank <= 64
            GROUP BY event_type
        """,
        "q_running_distinct": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                     ) = 1 THEN 1 ELSE 0 END AS first_f
              FROM events
            )
            SELECT user_id, event_id,
                   sum(first_f) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   )::BIGINT AS n_distinct
            FROM flagged
        """,
        "q_attribution": """
            WITH touched AS (
              SELECT user_id, event_type,
                     last_value(
                       CASE WHEN event_type <> 'purchase'
                            THEN event_type END IGNORE NULLS
                     ) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS touch
              FROM events
            )
            SELECT coalesce(touch, 'direct') AS channel,
                   count(*)::BIGINT AS n_conversions,
                   count(DISTINCT user_id)::BIGINT AS n_users
            FROM touched WHERE event_type = 'purchase'
            GROUP BY coalesce(touch, 'direct')
        """,
        "q_changepoint": """
            WITH marked AS (
              SELECT user_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS k,
                     sum(CAST(round(value * 10) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sl,
                     sum(CAST(round(value * 10) AS BIGINT)) OVER (
                       PARTITION BY user_id
                     ) AS st,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            scored AS (
              SELECT user_id, k, n, sl, st,
                     (sl * (n - k) - (st - sl) * k)::DOUBLE
                     * (sl * (n - k) - (st - sl) * k)::DOUBLE
                     / (k * (n - k))::DOUBLE AS bss
              FROM marked
              WHERE k >= 2 AND k <= n - 2
            ),
            best AS (
              SELECT user_id, k, n, sl, st, bss,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY bss DESC, k ASC
                     ) AS r
              FROM scored
            )
            SELECT user_id, n::BIGINT AS n, k::BIGINT AS k_star,
                   floor(sl::DOUBLE / (k * 10.0) * 1e6) / 1e6
                     AS mean_left,
                   floor((st - sl)::DOUBLE / ((n - k) * 10.0) * 1e6)
                     / 1e6 AS mean_right,
                   floor(bss * 100) / 100 AS bss_q2
            FROM best WHERE r = 1
        """,
        "q_kcore": _kcore_unrolled_sql(),
        "q_binseg": """
            WITH base AS (
              SELECT o_orderpriority AS g,
                     date_trunc('month', o_orderdate) AS month,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS v
              FROM orders GROUP BY 1, 2
            ),
            idxed AS (
              SELECT g, v,
                     row_number() OVER (
                       PARTITION BY g ORDER BY month
                     ) AS idx
              FROM base
            ),
            marked AS (
              SELECT g, idx, v,
                     sum(v) OVER (
                       PARTITION BY g ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sl,
                     sum(v) OVER (PARTITION BY g) AS st,
                     count(*) OVER (PARTITION BY g) AS n
              FROM idxed
            ),
            scored AS (
              SELECT g, idx,
                     (sl * (n - idx) - (st - sl) * idx)::DOUBLE
                     * (sl * (n - idx) - (st - sl) * idx)::DOUBLE
                     / (idx * (n - idx))::DOUBLE AS bss
              FROM marked WHERE idx >= 2 AND idx <= n - 2
            ),
            best AS (
              SELECT g, idx AS split FROM (
                SELECT g, idx,
                       row_number() OVER (
                         PARTITION BY g ORDER BY bss DESC, idx ASC
                       ) AS r
                FROM scored WHERE bss >= 0.0
              ) WHERE r = 1
            ),
            segged AS (
              SELECT i.g, i.idx, i.v,
                     CASE WHEN b.split IS NOT NULL
                               AND i.idx > b.split
                          THEN 1 ELSE 0 END AS segment
              FROM idxed i LEFT JOIN best b ON i.g = b.g
            )
            SELECT g AS o_orderpriority, segment,
                   min(idx)::BIGINT AS start_idx,
                   max(idx)::BIGINT AS end_idx,
                   count(*)::BIGINT AS n,
                   floor(sum(v)::DOUBLE / count(*) * 1e6) / 1e6 AS mean_q
            FROM segged GROUP BY g, segment
        """,
        "q_interval_union": """
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     greatest(
                       epoch_us(ts)
                       + CAST(round(value) AS BIGINT) * 1000000,
                       epoch_us(ts)
                     ) AS e
              FROM events
            ),
            flagged AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                          ) IS NULL
                          OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING
                          )
                     THEN 1 ELSE 0 END AS f
              FROM iv
            ),
            isl AS (
              SELECT user_id, s, e,
                     sum(f) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS island
              FROM flagged
            ),
            pi AS (
              SELECT user_id, island, count(*) AS n,
                     min(s) AS i_s, max(e) AS i_e
              FROM isl GROUP BY user_id, island
            )
            SELECT user_id,
                   sum(n)::BIGINT AS n_intervals,
                   count(*)::BIGINT AS n_islands,
                   sum(i_e - i_s)::BIGINT AS covered_us,
                   (max(i_e) - min(i_s))::BIGINT AS span_us
            FROM pi GROUP BY user_id
        """,
        "q_benford": f"""
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS q
              FROM orders
              WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
            ),
            cnt AS (
              SELECT CAST(substring(q::VARCHAR, 1, 1) AS INT) AS digit,
                     count(*)::BIGINT AS n
              FROM base GROUP BY 1
            ),
            tot AS (SELECT sum(n) AS t FROM cnt)
            SELECT digit, n,
                   floor(n / t * 1e6) / 1e6 AS share_q,
                   floor(({_BENFORD_CASE}) * 1e6) / 1e6 AS expected_q,
                   floor(
                     (n - t * ({_BENFORD_CASE}))
                     * (n - t * ({_BENFORD_CASE}))
                     / (t * ({_BENFORD_CASE})) * 1e6
                   ) / 1e6 AS chi2_term_q
            FROM cnt, tot
        """,
        "q_rolling_median": """
            WITH q AS (
              SELECT user_id, event_id, ts,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
            ),
            framed AS (
              SELECT user_id, event_id,
                     list_sort(list(v) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
                     )) AS fr
              FROM q
            )
            SELECT user_id, event_id,
                   fr[CAST(ceil(len(fr) / 2.0) AS INT)] AS med_q
            FROM framed
        """,
        "q_gini_scoped": """
            WITH w AS (
              SELECT lang, source AS g, sum(n_chars)::BIGINT AS w
              FROM documents GROUP BY lang, source
            ),
            r AS (
              SELECT lang, w,
                     row_number() OVER (
                       PARTITION BY lang ORDER BY w ASC, g ASC
                     ) AS i
              FROM w
            ),
            a AS (
              SELECT lang, count(*)::BIGINT AS n, sum(w)::BIGINT AS tw,
                     sum(i::HUGEINT * w::HUGEINT) AS iw,
                     sum(w::HUGEINT * w::HUGEINT) AS w2,
                     max(w)::BIGINT AS wmax
              FROM r GROUP BY lang
            )
            SELECT lang, n AS n_groups, tw AS total_w,
                   CAST(floor(
                     (2::HUGEINT * iw - (n + 1)::HUGEINT * tw::HUGEINT)
                       ::DOUBLE
                     / (n::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS gini_ppm,
                   CAST(floor(
                     w2::DOUBLE
                     / (tw::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS hhi_ppm,
                   CAST(floor(wmax::DOUBLE / tw::DOUBLE * 1e6)
                        AS BIGINT) AS top_share_ppm
            FROM a
        """,
        "q_dedup_best_rep": f"""
            WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS node, least(a, min(b)) AS component
              FROM reach GROUP BY a
            ),
            members AS (
              SELECT c.node, c.component, d.n_chars AS score
              FROM comp c JOIN documents d ON c.node = d.doc_id
            ),
            best AS (
              SELECT component, max(score) AS ms
              FROM members GROUP BY component
            ),
            winners AS (
              SELECT m.component, min(m.node) AS winner
              FROM members m JOIN best b
                ON m.component = b.component AND m.score = b.ms
              GROUP BY m.component
            ),
            losers AS (
              SELECT m.node AS doc_id
              FROM members m JOIN winners w ON m.component = w.component
              WHERE m.node <> w.winner
            )
            SELECT doc_id, source, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
        "q_tfidf_cosine": """
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0
                     )) AS w
              FROM documents
            ),
            tf AS (
              SELECT id, w, count(*)::BIGINT AS tf
              FROM toks GROUP BY id, w
            ),
            dft AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
            nn AS (SELECT count(*)::BIGINT AS N FROM documents),
            wq AS (
              SELECT id, tf.w,
                     CAST(floor(
                       tf::DOUBLE
                       * ln((N + 1)::DOUBLE / (df + 1)::DOUBLE)
                       * 1e6
                     ) AS BIGINT) AS wq
              FROM tf JOIN dft ON tf.w = dft.w CROSS JOIN nn
              WHERE df <= 1000
            ),
            norms AS (
              SELECT id, sum(wq::HUGEINT * wq::HUGEINT) AS n2
              FROM wq GROUP BY id
            ),
            dots AS (
              SELECT a.id AS id1, b.id AS id2,
                     sum(a.wq::HUGEINT * b.wq::HUGEINT) AS dot
              FROM wq a JOIN wq b ON a.w = b.w AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT * FROM (
              SELECT id1, id2, dot::DOUBLE AS dot_q,
                     CAST(floor(
                       dot::DOUBLE
                       / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) * 1e6
                     ) AS BIGINT) AS sim_ppm
              FROM dots
              JOIN norms na ON dots.id1 = na.id
              JOIN norms nb ON dots.id2 = nb.id
            ) WHERE sim_ppm >= 400000
        """,
        "q_holt": """
            WITH RECURSIVE seq AS (
              SELECT user_id, value,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     count(*) OVER (PARTITION BY user_id) AS n
              FROM events
            ),
            init AS (
              SELECT a.user_id, a.n,
                     a.value::DOUBLE AS x1,
                     b.value::DOUBLE AS x2
              FROM seq a LEFT JOIN seq b
                ON a.user_id = b.user_id AND b.rn = 2
              WHERE a.rn = 1
            ),
            rec AS (
              SELECT user_id, n, 1 AS rn,
                     x1 AS l, (x2 - x1) AS b
              FROM init WHERE n >= 2
              UNION ALL
              SELECT rec.user_id, rec.n, seq.rn,
                     seq.value * 0.25 + (rec.l + rec.b) * 0.75,
                     ((seq.value * 0.25 + (rec.l + rec.b) * 0.75)
                        - rec.l) * 0.125
                       + rec.b * 0.875
              FROM rec JOIN seq
                ON seq.user_id = rec.user_id AND seq.rn = rec.rn + 1
            ),
            fin AS (
              SELECT user_id, n, l, b FROM rec WHERE rn = n
              UNION ALL
              SELECT user_id, n, x1 AS l, 0.0 AS b
              FROM init WHERE n = 1
            )
            SELECT user_id, n::BIGINT AS n_events,
                   floor(l * 1e6) / 1e6 AS level,
                   floor(b * 1e6) / 1e6 AS trend,
                   floor((l + b) * 1e6) / 1e6 AS forecast
            FROM fin
        """,
        "q_wasserstein": """
            WITH pooled AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS s
              FROM events
              WHERE event_type IN ('purchase', 'view')
                AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
              FROM cnt
            ),
            cums AS (
              SELECT v,
                     sum(ca) OVER w AS cumA,
                     sum(cb) OVER w AS cumB
              FROM cnt
              WINDOW w AS (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
            ),
            run AS (
              SELECT v,
                     lag(v) OVER (ORDER BY v) AS v_prev,
                     lag(cumA) OVER (ORDER BY v) AS pA,
                     lag(cumB) OVER (ORDER BY v) AS pB
              FROM cums
            ),
            emd AS (
              SELECT sum(
                       abs(pA::HUGEINT * nb::HUGEINT
                           - pB::HUGEINT * na::HUGEINT)
                       * (v - v_prev)::HUGEINT
                     ) AS emd_int
              FROM run, tot WHERE v_prev IS NOT NULL
            )
            SELECT na AS n_a, nb AS n_b,
                   CASE WHEN na > 0 AND nb > 0 THEN
                     floor(
                       coalesce(emd_int, 0)::DOUBLE
                       / (na::DOUBLE * nb::DOUBLE * 100.0) * 1e6
                     ) / 1e6
                   END AS emd_q
            FROM tot, emd
        """,
        "q_negative_sample": """
            WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            pairs AS (
              SELECT doc_id AS a,
                     (doc_id * 7 + 1) % (SELECT n FROM nn) AS p
              FROM documents WHERE doc_id < 100
            ),
            anchors AS (SELECT DISTINCT a FROM pairs),
            slots AS (
              SELECT a, unnest(range(12)) AS slot FROM anchors
            ),
            cand AS (
              SELECT a, slot,
                     CAST(('0x' || substring(
                       md5('neg|' || a::VARCHAR || ':' || slot::VARCHAR),
                       1, 15
                     )) AS BIGINT) % (SELECT n FROM nn) AS c
              FROM slots
            ),
            ok AS (
              SELECT a, c, min(slot) AS slot
              FROM cand WHERE c <> a GROUP BY a, c
            ),
            clean AS (
              SELECT ok.a, ok.c, ok.slot
              FROM ok LEFT JOIN pairs
                ON ok.a = pairs.a AND ok.c = pairs.p
              WHERE pairs.a IS NULL
            ),
            r AS (
              SELECT a, c, slot,
                     row_number() OVER (
                       PARTITION BY a ORDER BY slot, c
                     ) AS rk
              FROM clean
            )
            SELECT a AS anchor_id, c AS neg_id, slot::INT AS slot
            FROM r WHERE rk <= 4
        """,
        "q_hard_negatives": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qvec, label AS ql
              FROM embeddings WHERE vec_id < 20
            ),
            c AS (
              SELECT vec_id AS neg_id, embedding AS cvec, label AS cl
              FROM embeddings
            ),
            scored AS (
              SELECT query_id, neg_id,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(
                        range(1, len(qvec) + 1),
                        i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(
                        range(1, len(cvec) + 1),
                        i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))),
                  6) AS cos_sim
              FROM c, q
              WHERE neg_id <> query_id AND cl <> ql
            )
            SELECT query_id, neg_id, rank::INTEGER AS rank, cos_sim
            FROM (
              SELECT query_id, neg_id, cos_sim,
                     row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neg_id ASC
                     ) AS rank
              FROM scored
            ) WHERE rank <= 5
        """,
        "q_mutual_nn": """
            WITH l AS (
              SELECT vec_id AS id, embedding AS v FROM embeddings
              WHERE vec_id % 2 = 0
            ),
            r AS (
              SELECT vec_id AS id, embedding AS v FROM embeddings
              WHERE vec_id % 2 = 1
            ),
            sc AS (
              SELECT l.id AS lid, r.id AS rid,
                round(
                  list_aggregate(list_transform(range(1, len(l.v) + 1),
                      i -> l.v[i]::DOUBLE * r.v[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(
                        range(1, len(l.v) + 1),
                        i -> l.v[i]::DOUBLE * l.v[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(
                        range(1, len(r.v) + 1),
                        i -> r.v[i]::DOUBLE * r.v[i]::DOUBLE), 'sum'))),
                  6) AS cos_sim
              FROM l, r
            ),
            l2r AS (
              SELECT lid, rid, cos_sim FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY lid ORDER BY cos_sim DESC, rid ASC
                ) AS rk FROM sc
              ) WHERE rk = 1
            ),
            r2l AS (
              SELECT lid, rid FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY rid ORDER BY cos_sim DESC, lid ASC
                ) AS rk FROM sc
              ) WHERE rk = 1
            )
            SELECT l2r.lid AS left_id, l2r.rid AS right_id, l2r.cos_sim
            FROM l2r JOIN r2l USING (lid, rid)
        """,
        "q_k_anonymity": """
            SELECT event_type,
                   (hour(ts) * 60 + minute(ts))::INT AS minute_of_day,
                   count(*)::BIGINT AS n,
                   count(*) < 5 AS at_risk
            FROM events
            GROUP BY event_type, minute_of_day
        """,
        "q_theil_sen": """
            WITH v AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 60000000.0) AS BIGINT)
                       AS x,
                     CAST(round(value * 1000000, 0) AS BIGINT) AS yq
              FROM events
            ),
            p AS (
              SELECT a.user_id,
                     CAST(floor(
                       (b.yq - a.yq)::DOUBLE / (b.x - a.x)::DOUBLE
                     ) AS BIGINT) AS s
              FROM v a JOIN v b
                ON a.user_id = b.user_id AND a.x < b.x
            ),
            c AS (
              SELECT user_id, s, count(*)::BIGINT AS w
              FROM p GROUP BY user_id, s
            ),
            r AS (
              SELECT user_id, s,
                     sum(w) OVER (
                       PARTITION BY user_id ORDER BY s
                     )::BIGINT AS cum,
                     sum(w) OVER (PARTITION BY user_id)::BIGINT AS tot
              FROM c
            )
            SELECT user_id, tot AS n_pairs, min(s) AS slope_ppm
            FROM r
            WHERE cum * 2 >= tot
            GROUP BY user_id, tot
        """,
        "q_kruskal_wallis": """
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
                     o_orderpriority AS g
              FROM orders
            ),
            vg AS (
              SELECT v, g, count(*)::BIGINT AS c FROM base GROUP BY v, g
            ),
            vt0 AS (SELECT v, sum(c)::BIGINT AS t FROM vg GROUP BY v),
            vt AS (
              SELECT v, t,
                     coalesce(sum(t) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS cb
              FROM vt0
            ),
            pc AS (
              SELECT g, sum(c)::BIGINT AS n_g,
                     sum(c * (2 * vt.cb + vt.t + 1))::BIGINT AS r2
              FROM vg JOIN vt USING (v) GROUP BY g
            ),
            stepped AS (
              SELECT sum(
                       (r2::DOUBLE / 2.0) * (r2::DOUBLE / 2.0)
                       / n_g::DOUBLE
                     ) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS s,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT s, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(t)::BIGINT AS n,
                     sum(t * t * t - t)::BIGINT AS tie3
              FROM vt
            )
            SELECT n, k, tie3,
                   floor((12.0 * s / (n::DOUBLE * (n::DOUBLE + 1.0))
                          - 3.0 * (n::DOUBLE + 1.0)) * 1e6) / 1e6
                     AS h_q6,
                   CASE WHEN (1.0 - tie3::DOUBLE
                              / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                                 - n::DOUBLE)) > 0
                        THEN floor(
                          (12.0 * s / (n::DOUBLE * (n::DOUBLE + 1.0))
                           - 3.0 * (n::DOUBLE + 1.0))
                          / (1.0 - tie3::DOUBLE
                             / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                                - n::DOUBLE)) * 1e6) / 1e6
                   END AS h_tie_q6
            FROM tt, sf
        """,
        "q_anova": """
            WITH base AS (
              SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v,
                     o_orderpriority AS g
              FROM orders
              WHERE o_totalprice IS NOT NULL
                AND o_orderpriority IS NOT NULL
            ),
            pc AS (
              SELECT g, count(*)::BIGINT AS n_g,
                     sum(v)::BIGINT AS s_g,
                     sum(CAST(v AS DECIMAL(38,0))
                         * CAST(v AS DECIMAL(38,0))) AS q_g
              FROM base GROUP BY g
            ),
            stepped AS (
              SELECT sum(s_g::DOUBLE * s_g::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT sb, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            )
            SELECT n, k,
                   CAST(floor((sb - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                        / 1e6) AS BIGINT) AS ssb_m6,
                   CAST(floor((q::DOUBLE - sb) / 1e6) AS BIGINT)
                     AS ssw_m6,
                   CASE WHEN k > 1 AND (q::DOUBLE - sb) > 0 THEN
                     floor(((sb - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                            / (k::DOUBLE - 1.0))
                           / ((q::DOUBLE - sb) / (n::DOUBLE - k::DOUBLE))
                           * 1e6) / 1e6
                   END AS f_q6
            FROM tt, sf
        """,
        "q_levene": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     event_type AS g
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            ranked AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0)::BIGINT AS cb,
                     sum(c) OVER (PARTITION BY g)::BIGINT AS n_g
              FROM vg
            ),
            med AS (
              SELECT g,
                     sum(v * (
                       (CASE WHEN cb < (n_g + 1) // 2
                               AND cb + c >= (n_g + 1) // 2
                             THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < n_g // 2 + 1
                                 AND cb + c >= n_g // 2 + 1
                               THEN 1 ELSE 0 END)
                     ))::BIGINT AS med2
              FROM ranked GROUP BY g
            ),
            z AS (
              SELECT vg.g, vg.c, abs(2 * vg.v - med.med2)::BIGINT AS z2
              FROM vg JOIN med ON vg.g = med.g
            ),
            pc AS (
              SELECT g, sum(c)::BIGINT AS n_g,
                     sum(c * z2)::BIGINT AS zs,
                     sum(CAST(c AS DECIMAL(38,0))
                         * CAST(z2 AS DECIMAL(38,0))
                         * CAST(z2 AS DECIMAL(38,0))) AS q_g
              FROM z GROUP BY g
            ),
            stepped AS (
              SELECT sum(zs::DOUBLE * zs::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (SELECT sb, kk::BIGINT AS k FROM stepped WHERE rn = kk),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n, sum(zs)::BIGINT AS z,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            )
            SELECT n, k,
                   CASE WHEN k > 1 AND (q::DOUBLE - sb) > 0 THEN
                     floor(((n::DOUBLE - k::DOUBLE) / (k::DOUBLE - 1.0))
                           * (sb - z::DOUBLE * z::DOUBLE / n::DOUBLE)
                           / (q::DOUBLE - sb) * 1e6) / 1e6
                   END AS w_q6
            FROM tt, sf
        """,
        "q_cramers_v": """
            WITH cells AS (
              SELECT c_mktsegment AS a, c_nationkey AS b,
                     count(*)::BIGINT AS o
              FROM customer GROUP BY a, b
            ),
            rt AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
            ct AS (SELECT b, sum(o)::BIGINT AS cb FROM cells GROUP BY b),
            gt AS (SELECT sum(o)::BIGINT AS N FROM cells),
            j AS (
              SELECT cells.a, cells.b, cells.o, rt.ra, ct.cb, gt.N
              FROM cells JOIN rt USING (a) JOIN ct USING (b), gt
            ),
            stepped AS (
              SELECT N,
                     sum(
                       (o::DOUBLE - CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                       * (o::DOUBLE - CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                       / (CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE)
                     ) OVER (
                       ORDER BY a, b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS chi2_obs,
                     sum(CAST(CAST(ra AS DECIMAL(38,0))
                          * CAST(cb AS DECIMAL(38,0)) AS DOUBLE)
                          / N::DOUBLE) OVER (
                       ORDER BY a, b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS e_obs,
                     row_number() OVER (ORDER BY a, b) AS rn,
                     count(*) OVER () AS cells_n
              FROM j
            ),
            last AS (
              SELECT N, chi2_obs + (N::DOUBLE - e_obs) AS chi2
              FROM stepped WHERE rn = cells_n
            ),
            dims AS (
              SELECT count(DISTINCT a)::BIGINT AS r,
                     count(DISTINCT b)::BIGINT AS c
              FROM cells
            )
            SELECT N AS n, r, c,
                   floor(chi2 * 1e6) / 1e6 AS chi2_q6,
                   CASE WHEN least(r, c) > 1 THEN
                     floor(sqrt(chi2 / (N::DOUBLE
                       * (least(r, c)::DOUBLE - 1.0))) * 1e6) / 1e6
                   END AS v_q6
            FROM last, dims
        """,
        "q_mcnemar": """
            WITH toks AS (
              SELECT doc_id, n_chars,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0
                     ) AS tok
              FROM documents
            ),
            preds AS (
              SELECT (n_chars >= 500) AS label,
                     ((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))
                     ELSE 0 END) > 0) AS pred_a,
                     (n_chars % 7 < 4) AS pred_b
              FROM toks
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                     sum(CASE WHEN pred_a = label AND pred_b <> label
                              THEN 1 ELSE 0 END)::BIGINT AS b,
                     sum(CASE WHEN pred_a <> label AND pred_b = label
                              THEN 1 ELSE 0 END)::BIGINT AS c,
                     sum(CASE WHEN pred_a = label THEN 1 ELSE 0 END)
                       ::BIGINT AS na,
                     sum(CASE WHEN pred_b = label THEN 1 ELSE 0 END)
                       ::BIGINT AS nb
              FROM preds
            )
            SELECT n, b, c,
                   CASE WHEN b + c > 0 THEN
                     floor((abs(b - c)::DOUBLE - 1.0)
                           * (abs(b - c)::DOUBLE - 1.0)
                           / (b + c)::DOUBLE * 1e6) / 1e6
                   END AS mcnemar_q6,
                   CAST(floor(na::DOUBLE / n::DOUBLE * 1e6) AS BIGINT)
                     AS acc_a_ppm,
                   CAST(floor(nb::DOUBLE / n::DOUBLE * 1e6) AS BIGINT)
                     AS acc_b_ppm
            FROM agg
        """,
        "q_kendall_tau": """
            WITH base AS (
              SELECT c_nationkey AS g, c_custkey AS id,
                     CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x,
                     CAST(round(length(c_name) * 100.0, 0) AS BIGINT)
                       AS y
              FROM customer
              WHERE c_acctbal IS NOT NULL AND c_name IS NOT NULL
            ),
            s AS (
              SELECT a.g,
                     sum(
                       (CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                       * (CASE WHEN b.y > a.y THEN 1
                               WHEN b.y < a.y THEN -1 ELSE 0 END)
                     )::BIGINT AS s_stat
              FROM base a JOIN base b ON a.g = b.g AND a.id < b.id
              GROUP BY a.g
            ),
            cnt AS (SELECT g, count(*)::BIGINT AS n FROM base GROUP BY g),
            tx AS (
              SELECT g, sum(t * (t - 1))::BIGINT AS m1 FROM (
                SELECT g, x, count(*)::BIGINT AS t
                FROM base GROUP BY g, x
              ) GROUP BY g
            ),
            ty AS (
              SELECT g, sum(t * (t - 1))::BIGINT AS m2 FROM (
                SELECT g, y, count(*)::BIGINT AS t
                FROM base GROUP BY g, y
              ) GROUP BY g
            )
            SELECT cnt.g AS c_nationkey, n, s_stat,
                   (n * (n - 1))::BIGINT AS m0, m1, m2,
                   CASE WHEN n * (n - 1) > m1 AND n * (n - 1) > m2 THEN
                     floor(2.0 * s_stat::DOUBLE
                           / sqrt((n * (n - 1) - m1)::DOUBLE
                                  * (n * (n - 1) - m2)::DOUBLE)
                           * 1e6) / 1e6
                   END AS tau_q6
            FROM cnt JOIN s USING (g) JOIN tx USING (g) JOIN ty USING (g)
        """,
        "q_did": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS y,
                     (user_id % 2 = 0) AS t,
                     (ts >= TIMESTAMP '2024-01-16 00:00:00') AS p
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
                AND ts IS NOT NULL
            ),
            agg AS (
              SELECT
                sum(CASE WHEN t AND p THEN 1 ELSE 0 END)::BIGINT AS n_tp,
                sum(CASE WHEN t AND p THEN y ELSE 0 END)::BIGINT AS s_tp,
                sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END)::BIGINT
                  AS n_tq,
                sum(CASE WHEN t AND NOT p THEN y ELSE 0 END)::BIGINT
                  AS s_tq,
                sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END)::BIGINT
                  AS n_cp,
                sum(CASE WHEN NOT t AND p THEN y ELSE 0 END)::BIGINT
                  AS s_cp,
                sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END)::BIGINT
                  AS n_cq,
                sum(CASE WHEN NOT t AND NOT p THEN y ELSE 0 END)::BIGINT
                  AS s_cq
              FROM base
            )
            SELECT n_tp, n_tq, n_cp, n_cq, s_tp, s_tq, s_cp, s_cq,
                   CASE WHEN n_tp > 0 AND n_tq > 0 AND n_cp > 0
                          AND n_cq > 0 THEN
                     floor(((s_tp::DOUBLE / n_tp::DOUBLE
                             - s_tq::DOUBLE / n_tq::DOUBLE)
                            - (s_cp::DOUBLE / n_cp::DOUBLE
                               - s_cq::DOUBLE / n_cq::DOUBLE))
                           / 100.0 * 1e6) / 1e6
                   END AS did_q6
            FROM agg
        """,
        "q_l_diversity": """
            WITH base AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb
              FROM customer
            ),
            cells AS (
              SELECT c_nationkey, c_mktsegment, bal_kb,
                     count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2, 3
            )
            SELECT c_nationkey, c_mktsegment,
                   sum(c)::BIGINT AS n,
                   count(*)::BIGINT AS n_sensitive,
                   (count(*) < 3) AS at_risk
            FROM cells GROUP BY 1, 2
        """,
        "q_t_closeness": """
            WITH base AS (
              SELECT c_nationkey AS g1, c_mktsegment AS g2,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS v
              FROM customer
            ),
            cells AS (
              SELECT g1, g2, v, count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2, 3
            ),
            vals AS (SELECT v, sum(c)::BIGINT AS cv FROM cells GROUP BY v),
            grp AS (
              SELECT g1, g2, sum(c)::BIGINT AS ng FROM cells GROUP BY 1, 2
            ),
            tot AS (SELECT sum(cv)::BIGINT AS nn FROM vals),
            grid AS (
              SELECT grp.g1, grp.g2, grp.ng, vals.v, vals.cv,
                     coalesce(cells.c, 0) AS c
              FROM grp CROSS JOIN vals
              LEFT JOIN cells ON cells.g1 = grp.g1
                             AND cells.g2 = grp.g2
                             AND cells.v = vals.v
            ),
            cums AS (
              SELECT g1, g2, ng, v,
                     sum(c) OVER w AS cg, sum(cv) OVER w AS ct
              FROM grid
              WINDOW w AS (PARTITION BY g1, g2 ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
            ),
            run AS (
              SELECT g1, g2, ng, v,
                     lag(v) OVER o AS v_prev,
                     lag(cg) OVER o AS pg,
                     lag(ct) OVER o AS pt
              FROM cums
              WINDOW o AS (PARTITION BY g1, g2 ORDER BY v)
            ),
            per_g AS (
              SELECT g1, g2, nn, max(ng) AS ng,
                     sum(CASE WHEN v_prev IS NOT NULL THEN
                       abs(pg::HUGEINT * nn::HUGEINT
                           - pt::HUGEINT * ng::HUGEINT)
                       * (v - v_prev)::HUGEINT END) AS emd_int
              FROM run, tot GROUP BY g1, g2, nn
            )
            SELECT c_nationkey, c_mktsegment, n, t_q6,
                   t_q6 > 0.5 AS at_risk
            FROM (
              SELECT g1 AS c_nationkey, g2 AS c_mktsegment,
                     ng::BIGINT AS n,
                     floor(coalesce(emd_int, 0)::DOUBLE
                           / (ng::DOUBLE * nn::DOUBLE * 1.0)
                           * 1e6) / 1e6 AS t_q6
              FROM per_g
            )
        """,
        "q_mcc": """
            WITH cells AS (
              SELECT lang,
                sum(CASE WHEN (n_chars % 7 < 4) AND n_chars >= 500
                    THEN 1 ELSE 0 END)::BIGINT AS tp,
                sum(CASE WHEN (n_chars % 7 < 4) AND n_chars < 500
                    THEN 1 ELSE 0 END)::BIGINT AS fp,
                sum(CASE WHEN NOT (n_chars % 7 < 4) AND n_chars >= 500
                    THEN 1 ELSE 0 END)::BIGINT AS fn,
                sum(CASE WHEN NOT (n_chars % 7 < 4) AND n_chars < 500
                    THEN 1 ELSE 0 END)::BIGINT AS tn
              FROM documents GROUP BY lang
            )
            SELECT lang, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0 AND tp + fn > 0
                         AND tn + fp > 0 AND tn + fn > 0 THEN
                     floor((tp * tn - fp * fn)::DOUBLE
                           / (sqrt((tp + fp)::DOUBLE)
                              * sqrt((tp + fn)::DOUBLE)
                              * sqrt((tn + fp)::DOUBLE)
                              * sqrt((tn + fn)::DOUBLE)) * 1e6) / 1e6
                   END AS mcc_q6
            FROM cells
        """,
        "q_brier": """
            WITH base AS (
              SELECT CAST(floor((least(n_chars, 2000)::DOUBLE / 2000.0)
                                * 10000.0) AS BIGINT) AS s4,
                     CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y
              FROM documents
            ),
            bins AS (
              SELECT s4, count(*)::BIGINT AS n,
                     sum(y)::BIGINT AS n_pos,
                     sum((s4 - 10000 * y) * (s4 - 10000 * y))::BIGINT
                       AS sse8
              FROM base GROUP BY s4
            ),
            tot AS (
              SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS pp
              FROM base
            )
            SELECT s4, n, n_pos, sse8,
                   floor(n::DOUBLE / nn::DOUBLE
                         * (s4::DOUBLE / 1e4
                            - n_pos::DOUBLE / n::DOUBLE)
                         * (s4::DOUBLE / 1e4
                            - n_pos::DOUBLE / n::DOUBLE)
                         * 1e9) / 1e9 AS rel_q9,
                   floor(n::DOUBLE / nn::DOUBLE
                         * (n_pos::DOUBLE / n::DOUBLE
                            - pp::DOUBLE / nn::DOUBLE)
                         * (n_pos::DOUBLE / n::DOUBLE
                            - pp::DOUBLE / nn::DOUBLE)
                         * 1e9) / 1e9 AS res_q9
            FROM bins, tot
        """,
        "q_retrieval": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            labn AS (SELECT label, count(*)::BIGINT AS labn
                     FROM embeddings GROUP BY label),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank, qlab,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            agg AS (
              SELECT query_id,
                     count(*)::BIGINT AS n_ranked,
                     sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END)::BIGINT
                       AS hits_k,
                     min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
                     max(labn) - 1 AS total_rel
              FROM judged JOIN labn ON judged.qlab = labn.label
              GROUP BY query_id
            )
            SELECT query_id, n_ranked, hits_k, total_rel,
                   floor(hits_k::DOUBLE / 5.0 * 1e6) / 1e6 AS prec_k_q6,
                   CASE WHEN total_rel > 0 THEN
                     floor(hits_k::DOUBLE / total_rel::DOUBLE * 1e6) / 1e6
                   END AS recall_k_q6,
                   floor(coalesce(1.0 / first_rel::DOUBLE, 0.0) * 1e6)
                     / 1e6 AS rr_q6
            FROM agg
        """,
        "q_mood_median": """
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL
            ),
            vc AS (SELECT v, count(*)::BIGINT AS c FROM base GROUP BY v),
            ranked AS (
              SELECT v, c,
                     coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER () AS n
              FROM vc
            ),
            med AS (
              SELECT sum(v * (
                (CASE WHEN cb < floor((n + 1) / 2)
                       AND cb + c >= floor((n + 1) / 2)
                 THEN 1 ELSE 0 END)
                + (CASE WHEN cb < floor(n / 2) + 1
                         AND cb + c >= floor(n / 2) + 1
                   THEN 1 ELSE 0 END)))::BIGINT AS med2
              FROM ranked
            ),
            sided AS (
              SELECT g, CASE WHEN 2 * v > med2 THEN 1
                             WHEN 2 * v < med2 THEN 0 END AS side
              FROM base, med
            ),
            per_g AS (
              SELECT g, sum(side)::BIGINT AS a,
                     sum(1 - side)::BIGINT AS b
              FROM sided WHERE side IS NOT NULL GROUP BY g
            ),
            tot AS (
              SELECT sum(a)::BIGINT AS ta, sum(b)::BIGINT AS tb,
                     count(*)::BIGINT AS k,
                     sum(a + b)::BIGINT AS nn
              FROM per_g
            ),
            stepped AS (
              SELECT k, ta, tb, nn,
                     sum(
                       ((a::DOUBLE - (a + b)::DOUBLE * ta::DOUBLE
                                     / nn::DOUBLE)
                        * (a::DOUBLE - (a + b)::DOUBLE * ta::DOUBLE
                                      / nn::DOUBLE)
                        / ((a + b)::DOUBLE * ta::DOUBLE / nn::DOUBLE))
                       + ((b::DOUBLE - (a + b)::DOUBLE * tb::DOUBLE
                                      / nn::DOUBLE)
                          * (b::DOUBLE - (a + b)::DOUBLE * tb::DOUBLE
                                        / nn::DOUBLE)
                          / ((a + b)::DOUBLE * tb::DOUBLE / nn::DOUBLE))
                     ) OVER (ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS acc,
                     row_number() OVER (ORDER BY g) AS rn
              FROM per_g, tot
            )
            SELECT nn AS n, k, ta AS above_total,
                   CASE WHEN ta > 0 AND tb > 0 AND k > 1 THEN
                     floor(acc * 1e6) / 1e6
                   END AS chi2_q6
            FROM stepped WHERE rn = k
        """,
        "q_script_profile": """
            WITH c AS (
              SELECT doc_id,
                     length(text)::BIGINT AS n_chars_total,
                     (length(text) - length(regexp_replace(text,
                        '[A-Za-zÀ-ɏ]', '', 'g')))::BIGINT AS n_latin,
                     (length(text) - length(regexp_replace(text,
                        '[Ѐ-ӿ]', '', 'g')))::BIGINT AS n_cyrillic,
                     (length(text) - length(regexp_replace(text,
                        '[Ͱ-Ͽ]', '', 'g')))::BIGINT AS n_greek,
                     (length(text) - length(regexp_replace(text,
                        '[؀-ۿ]', '', 'g')))::BIGINT AS n_arabic,
                     (length(text) - length(regexp_replace(text,
                        '[ऀ-ॿ]', '', 'g')))::BIGINT AS n_devanagari,
                     (length(text) - length(regexp_replace(text,
                        '[一-鿿぀-ヿ]', '', 'g')))::BIGINT AS n_cjk,
                     (length(text) - length(regexp_replace(text,
                        '[가-힯ᄀ-ᇿ]', '', 'g')))::BIGINT AS n_hangul,
                     (length(text) - length(regexp_replace(text,
                        '[0-9]', '', 'g')))::BIGINT AS n_digit,
                     (length(text) - length(regexp_replace(text,
                        '[ \t\r\n]', '', 'g')))::BIGINT AS n_space
              FROM documents WHERE doc_id < 500
            )
            SELECT doc_id, n_chars_total, n_latin, n_cyrillic, n_greek,
                   n_arabic, n_devanagari, n_cjk, n_hangul, n_digit,
                   n_space,
                   (n_chars_total - n_latin - n_cyrillic - n_greek
                    - n_arabic - n_devanagari - n_cjk - n_hangul
                    - n_digit - n_space)::BIGINT AS n_other,
                   CASE
                     WHEN greatest(n_latin, n_cyrillic, n_greek,
                                   n_arabic, n_devanagari, n_cjk,
                                   n_hangul) = 0 THEN 'none'
                     WHEN n_latin = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'latin'
                     WHEN n_cyrillic = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'cyrillic'
                     WHEN n_greek = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'greek'
                     WHEN n_arabic = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'arabic'
                     WHEN n_devanagari = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'devanagari'
                     WHEN n_cjk = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'cjk'
                     ELSE 'hangul'
                   END AS dominant
            FROM c
        """,
        "q_span_corruption": """
            WITH base AS (
              SELECT doc_id AS id, n_chars::BIGINT AS len,
                     CAST(floor(n_chars * 150 / (1000 * 20))
                          AS BIGINT) AS k
              FROM documents
              WHERE floor(n_chars * 150 / (1000 * 20)) > 0
                AND n_chars >= 20
            ),
            spans AS (
              SELECT id, len, unnest(range(k)) AS span_idx FROM base
            )
            SELECT id, span_idx,
                   (('0x' || substring(
                       md5(id::VARCHAR || ':' || span_idx::VARCHAR),
                       1, 12))::BIGINT % (len - 20 + 1)) AS start,
                   20::BIGINT AS length
            FROM spans
        """,
        "q_runs_test": """
            WITH base AS (
              SELECT user_id AS g, event_id AS o,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE user_id < 40 AND value IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            ranked AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER (PARTITION BY g) AS n_g
              FROM vg
            ),
            med AS (
              SELECT g,
                     sum(v * (
                       (CASE WHEN cb < floor((n_g + 1) / 2)
                              AND cb + c >= floor((n_g + 1) / 2)
                        THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < floor(n_g / 2) + 1
                                AND cb + c >= floor(n_g / 2) + 1
                          THEN 1 ELSE 0 END)
                     ))::BIGINT AS med2
              FROM ranked GROUP BY g
            ),
            sided AS (
              SELECT base.g, o,
                     CASE WHEN 2 * v > med2 THEN 1
                          WHEN 2 * v < med2 THEN 0 END AS side
              FROM base JOIN med ON base.g = med.g
            ),
            seq AS (
              SELECT g, side,
                     lag(side) OVER (PARTITION BY g ORDER BY o) AS prev
              FROM sided WHERE side IS NOT NULL
            ),
            agg AS (
              SELECT g, sum(side)::BIGINT AS n1,
                     sum(1 - side)::BIGINT AS n2,
                     (1 + sum(CASE WHEN prev IS NOT NULL
                                    AND side <> prev
                              THEN 1 ELSE 0 END))::BIGINT AS runs
              FROM seq GROUP BY g
            )
            SELECT g AS user_id, n1, n2, runs,
                   CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 2
                         AND 2 * n1 * n2 > n1 + n2 THEN
                     floor((runs::DOUBLE
                            - (1.0 + (2 * n1 * n2)::DOUBLE
                                     / (n1 + n2)::DOUBLE))
                           / sqrt((2 * n1 * n2)::DOUBLE
                                  * (2 * n1 * n2 - n1 - n2)::DOUBLE
                                  / ((n1 + n2) * (n1 + n2)
                                     * (n1 + n2 - 1))::DOUBLE)
                           * 1e6) / 1e6
                   END AS z_q6
            FROM agg
        """,
        "q_durbin_watson": """
            WITH base AS (
              SELECT user_id AS g, event_id AS o,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE user_id < 40 AND value IS NOT NULL
            ),
            seq AS (
              SELECT g, v,
                     v - lag(v) OVER (PARTITION BY g ORDER BY o) AS d
              FROM base
            ),
            agg AS (
              SELECT g, count(*)::BIGINT AS n,
                     sum(v)::BIGINT AS s,
                     sum(v * v)::BIGINT AS sq,
                     sum(d * d)::BIGINT AS num
              FROM seq GROUP BY g
            )
            SELECT g AS user_id, n, num,
                   (n * n * sq - n * s * s)::BIGINT AS den_n2,
                   CASE WHEN n * n * sq - n * s * s > 0 THEN
                     floor((n * n * num)::DOUBLE
                           / (n * n * sq - n * s * s)::DOUBLE * 1e6)
                       / 1e6
                   END AS dw_q6
            FROM agg
        """,
        "q_conformal": """
            WITH base AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
            ),
            cnt AS (
              SELECT event_type, v, count(*)::BIGINT AS c
              FROM base GROUP BY event_type, v
            ),
            ranked AS (
              SELECT event_type, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER (PARTITION BY event_type) AS n
              FROM cnt
            ),
            sel AS (
              SELECT event_type,
                     max(n)::BIGINT AS n,
                     max(CAST(floor(((n + 1) * 900 + 999) / 1000)
                              AS BIGINT)) AS rank_target,
                     sum(CASE WHEN cb < floor(((n + 1) * 900 + 999)
                                              / 1000)
                               AND cb + c >= floor(((n + 1) * 900 + 999)
                                                   / 1000)
                         THEN v END)::BIGINT AS qhat_q
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n, rank_target, qhat_q,
                   qhat_q::DOUBLE / 100.0 AS qhat,
                   (rank_target <= n) AS covered
            FROM sel
        """,
        "q_risk_coverage": """
            WITH base AS (
              SELECT CAST(round(((n_chars % 1000)::DOUBLE / 1000.0)
                                * 10000.0) AS BIGINT) AS conf_q,
                     (CASE WHEN (n_chars % 7 < 4)
                                <> (n_chars >= 500)
                      THEN 1 ELSE 0 END)::BIGINT AS e
              FROM documents
            ),
            cnt AS (
              SELECT conf_q, count(*)::BIGINT AS n_at,
                     sum(e)::BIGINT AS err_at
              FROM base GROUP BY conf_q
            ),
            cum AS (
              SELECT conf_q, n_at, err_at,
                     sum(n_at) OVER (ORDER BY conf_q DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS n_cum,
                     sum(err_at) OVER (ORDER BY conf_q DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS err_cum,
                     sum(n_at) OVER ()::BIGINT AS nn
              FROM cnt
            )
            SELECT conf_q, n_at, err_at, n_cum, err_cum,
                   floor(n_cum::DOUBLE / nn::DOUBLE * 1e6) / 1e6
                     AS coverage_q6,
                   floor(err_cum::DOUBLE / n_cum::DOUBLE * 1e6) / 1e6
                     AS risk_q6
            FROM cum
        """,
        "q_fleiss": """
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     (n_chars % 3)::INTEGER AS label FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     (CAST(floor(n_chars / 7) AS BIGINT) % 3)::INTEGER
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     (CASE WHEN n_chars < 300 THEN 0
                           WHEN n_chars < 900 THEN 1
                           ELSE 2 END)::INTEGER
              FROM documents
            ),
            cell AS (
              SELECT doc_id, label, count(*)::BIGINT AS c
              FROM long GROUP BY doc_id, label
            ),
            items AS (
              SELECT count(*)::BIGINT AS n_items,
                     max(k)::BIGINT AS k,
                     sum(agree)::BIGINT AS agree_num
              FROM (SELECT doc_id, sum(c)::BIGINT AS k,
                           sum(c * (c - 1))::BIGINT AS agree
                    FROM cell GROUP BY doc_id)
            ),
            pooled AS (
              SELECT sum(t * t)::BIGINT AS st2, sum(t)::BIGINT AS t_tot
              FROM (SELECT label, count(*)::BIGINT AS t
                    FROM long GROUP BY label)
            )
            SELECT n_items, k, agree_num,
                   CASE WHEN n_items * k * (k - 1)
                             * (t_tot * t_tot - st2) > 0 AND k > 1 THEN
                     floor((t_tot * t_tot * agree_num
                            - n_items * k * (k - 1) * st2)::DOUBLE
                           / (n_items * k * (k - 1)
                              * (t_tot * t_tot - st2))::DOUBLE
                           * 1e6) / 1e6
                   END AS kappa_q6
            FROM items, pooled
        """,
        "q_krippendorff": """
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     (n_chars % 3)::INTEGER AS label FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     (CAST(floor(n_chars / 7) AS BIGINT) % 3)::INTEGER
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     (CASE WHEN n_chars < 300 THEN 0
                           WHEN n_chars < 900 THEN 1
                           ELSE 2 END)::INTEGER
              FROM documents
            ),
            cell AS (
              SELECT doc_id, label, count(*)::BIGINT AS c
              FROM long GROUP BY doc_id, label
            ),
            items AS (
              SELECT count(*)::BIGINT AS n_items,
                     max(k)::BIGINT AS k,
                     sum(k * (k - 1) - agree)::BIGINT AS disag_num
              FROM (SELECT doc_id, sum(c)::BIGINT AS k,
                           sum(c * (c - 1))::BIGINT AS agree
                    FROM cell GROUP BY doc_id)
            ),
            pooled AS (
              SELECT sum(t * t)::BIGINT AS st2, sum(t)::BIGINT AS t_tot
              FROM (SELECT label, count(*)::BIGINT AS t
                    FROM long GROUP BY label)
            )
            SELECT n_items, k, disag_num,
                   CASE WHEN t_tot * t_tot - st2 > 0 AND k > 1 THEN
                     floor((1.0 - (disag_num * t_tot * (t_tot - 1))::DOUBLE
                           / (n_items * k * (k - 1)
                              * (t_tot * t_tot - st2))::DOUBLE)
                           * 1e6) / 1e6
                   END AS alpha_q6
            FROM items, pooled
        """,
        "q_jonckheere": """
            WITH base AS (
              SELECT o_orderpriority AS g,
                     CAST(round(o_totalprice * 100) AS BIGINT) AS v
              FROM orders
              WHERE o_orderpriority IS NOT NULL
                AND o_totalprice IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            grid AS (
              SELECT gg.g, vv.v, coalesce(cnt.c, 0)::BIGINT AS c
              FROM (SELECT DISTINCT g FROM cnt) gg
              CROSS JOIN (SELECT DISTINCT v FROM cnt) vv
              LEFT JOIN cnt ON cnt.g = gg.g AND cnt.v = vv.v
            ),
            cum AS (
              SELECT g, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumb
              FROM grid
            ),
            pref AS (
              SELECT g, v, c,
                     coalesce(sum(cumb) OVER (
                       PARTITION BY v ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS a,
                     coalesce(sum(c) OVER (
                       PARTITION BY v ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS b
              FROM cum
            ),
            j2t AS (SELECT sum(c * (2 * a + b))::BIGINT AS j2 FROM pref),
            sizes AS (SELECT g, sum(c)::BIGINT AS ng FROM cnt GROUP BY g),
            mom AS (
              SELECT sum(ng)::BIGINT AS n,
                     count(*)::BIGINT AS k,
                     sum(ng * ng)::BIGINT AS sn2,
                     sum(ng * ng * (2 * ng + 3))::BIGINT AS sn23
              FROM sizes
            )
            SELECT n, k, j2,
                   (n * n - sn2)::BIGINT AS mean4,
                   (n * n * (2 * n + 3) - sn23)::BIGINT AS var72,
                   CASE WHEN n * n * (2 * n + 3) - sn23 > 0 THEN
                     floor((2 * j2 - (n * n - sn2))::DOUBLE
                           / (4.0 * sqrt((n * n * (2 * n + 3)
                                          - sn23)::DOUBLE / 72.0))
                           * 1e6) / 1e6
                   END AS z_q6
            FROM j2t, mom
        """,
        "q_page_trend": """
            WITH cells AS (
              SELECT o_custkey % 50 AS subj, o_orderpriority AS trt,
                     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS v
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT subj, trt,
                     (2 * rank() OVER (PARTITION BY subj ORDER BY v)
                      + count(*) OVER (PARTITION BY subj, v)
                      - 1)::BIGINT AS r2
              FROM cells
            ),
            ords AS (
              SELECT trt,
                     dense_rank() OVER (ORDER BY trt)::BIGINT AS ord
              FROM (SELECT DISTINCT trt FROM cells)
            ),
            agg AS (
              SELECT sum(ord * r2)::BIGINT AS l2,
                     count(DISTINCT subj)::BIGINT AS n_subjects,
                     count(DISTINCT ranked.trt)::BIGINT AS k
              FROM ranked JOIN ords ON ranked.trt = ords.trt
            )
            SELECT n_subjects, k, l2,
                   CASE WHEN n_subjects * k * k * (k + 1)
                             * (k * k - 1) > 0 THEN
                     floor(3.0 * (2 * l2
                                  - n_subjects * k * (k + 1)
                                    * (k + 1))::DOUBLE
                           / sqrt((n_subjects * k * k * (k + 1)
                                   * (k * k - 1))::DOUBLE)
                           * 1e6) / 1e6
                   END AS z_q6
            FROM agg
        """,
        "q_jl_project": """
            WITH dims AS (SELECT unnest(range(8)) AS j),
            base AS (
              SELECT vec_id, embedding FROM embeddings
              WHERE vec_id < 2000
            )
            SELECT vec_id, j::INTEGER AS dim_j,
                   list_aggregate(list_transform(
                     range(1, len(embedding) + 1),
                     i -> CAST(round(embedding[i]::DOUBLE * 1e6, 0)
                               AS BIGINT)
                          * (CASE WHEN (((i - 1) * 73856093
                                         + j * 19349663
                                         + (i - 1) * j * 83492791)
                                        % 1000003) % 2 = 0
                             THEN 1 ELSE -1 END)
                   ), 'sum')::BIGINT AS proj_q
            FROM base, dims
        """,
        "q_hodges_lehmann": """
            WITH base AS (
              SELECT c_nationkey AS g,
                     CAST(round(c_acctbal * 100) AS BIGINT) AS v
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            walsh AS (
              SELECT g, w2, sum(pc)::BIGINT AS pc FROM (
                SELECT a.g, a.v + b.v AS w2,
                       CASE WHEN a.v = b.v
                            THEN (a.c * (a.c + 1) / 2)::BIGINT
                            ELSE a.c * b.c END AS pc
                FROM cnt a JOIN cnt b
                  ON a.g = b.g AND a.v <= b.v
              ) GROUP BY g, w2
            ),
            ranked AS (
              SELECT g, w2, pc,
                     coalesce(sum(pc) OVER (
                       PARTITION BY g ORDER BY w2
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(pc) OVER (PARTITION BY g) AS nw
              FROM walsh
            ),
            med AS (
              SELECT g, max(nw)::BIGINT AS n_walsh,
                     sum(w2 * (
                       (CASE WHEN cb < floor((nw + 1) / 2)
                              AND cb + pc >= floor((nw + 1) / 2)
                        THEN 1 ELSE 0 END)
                       + (CASE WHEN cb < floor(nw / 2) + 1
                                AND cb + pc >= floor(nw / 2) + 1
                          THEN 1 ELSE 0 END)
                     ))::BIGINT AS med4
              FROM ranked GROUP BY g
            ),
            n_tab AS (SELECT g, count(*)::BIGINT AS n FROM base GROUP BY g)
            SELECT n_tab.g AS c_nationkey, n, n_walsh, med4,
                   floor(med4::DOUBLE / 400.0 * 1e6) / 1e6 AS hl_q6
            FROM n_tab JOIN med USING (g)
        """,
        "q_gaps": """
            WITH seq AS (
              SELECT user_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       AS gap_start,
                     ts AS gap_end
              FROM events
            )
            SELECT user_id, gap_start, gap_end,
                   CAST(floor((epoch_us(gap_end) - epoch_us(gap_start))
                              / 1000000.0) AS BIGINT) AS gap_seconds
            FROM seq
            WHERE gap_start IS NOT NULL
              AND floor((epoch_us(gap_end) - epoch_us(gap_start))
                        / 1000000.0) > 21600
        """,
        "q_seasonal_dow": """
            WITH base AS (
              SELECT event_type,
                     (dayofweek(ts) + 1)::INTEGER AS dow,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events
              WHERE value IS NOT NULL AND ts IS NOT NULL
            ),
            cells AS (
              SELECT event_type, dow, count(*)::BIGINT AS n,
                     sum(v)::BIGINT AS sum_q
              FROM base GROUP BY event_type, dow
            ),
            tot AS (
              SELECT event_type, sum(n)::BIGINT AS nn,
                     sum(sum_q)::BIGINT AS ss
              FROM cells GROUP BY event_type
            )
            SELECT c.event_type, dow, n, sum_q,
                   floor(sum_q::DOUBLE / n::DOUBLE / 100.0 * 1e6) / 1e6
                     AS mean_q6,
                   floor((sum_q::DOUBLE / n::DOUBLE / 100.0
                          - ss::DOUBLE / nn::DOUBLE / 100.0) * 1e6) / 1e6
                     AS seasonal_q6
            FROM cells c JOIN tot t ON c.event_type = t.event_type
        """,
        "q_linkpred": """
            WITH und AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders
              WHERE o_custkey <> o_orderkey % 1500
            ),
            adj AS (
              SELECT a AS w, b AS n FROM und
              UNION ALL
              SELECT b AS w, a AS n FROM und
            ),
            deg AS (SELECT w, count(*)::BIGINT AS deg
                    FROM adj GROUP BY w),
            piv AS (
              SELECT w,
                     CAST(floor(1e6 / ln(deg::DOUBLE)) AS BIGINT) AS aa1,
                     CAST(floor(1e9 / deg::DOUBLE) AS BIGINT) AS ra1
              FROM deg WHERE deg >= 2 AND deg <= 10000
            ),
            wedge AS (
              SELECT adj.w, adj.n, piv.aa1, piv.ra1
              FROM adj JOIN piv ON adj.w = piv.w
            ),
            pairs AS (
              SELECT l.n AS u, r.n AS v, l.aa1, l.ra1
              FROM wedge l JOIN wedge r
                ON l.w = r.w AND l.n < r.n
            ),
            scored AS (
              SELECT u, v, count(*)::BIGINT AS common_neighbors,
                     sum(aa1)::BIGINT AS aa_num,
                     sum(ra1)::BIGINT AS ra_num
              FROM pairs GROUP BY u, v
            )
            SELECT s.u, s.v, s.common_neighbors, s.aa_num, s.ra_num,
                   coalesce(e.is_edge, false) AS is_edge
            FROM scored s
            LEFT JOIN (SELECT a AS u, b AS v, true AS is_edge FROM und) e
              ON s.u = e.u AND s.v = e.v
            WHERE s.common_neighbors >= 2
        """,
        "q_assortativity": """
            WITH und AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders
              WHERE o_custkey <> o_orderkey % 1500
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS deg FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und
              ) GROUP BY node
            ),
            e AS (
              SELECT da.deg AS da, db.deg AS db
              FROM und
              JOIN deg da ON und.a = da.node
              JOIN deg db ON und.b = db.node
            ),
            agg AS (
              SELECT count(*)::BIGINT AS m,
                     sum(da * db)::BIGINT AS s_jk,
                     sum(da + db)::BIGINT AS s_sum,
                     sum(da * da + db * db)::BIGINT AS s_sq
              FROM e
            )
            SELECT m, s_jk, s_sum, s_sq,
                   CASE WHEN 2 * m * s_sq - s_sum * s_sum <> 0 THEN
                     floor((4 * m * s_jk - s_sum * s_sum)::DOUBLE
                           / (2 * m * s_sq - s_sum * s_sum)::DOUBLE
                           * 1e6) / 1e6
                   END AS r_q6
            FROM agg
        """,
        "q_cliffs_delta": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0
                     END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb_below,
                     coalesce(sum(cb) OVER (
                       ORDER BY v
                       ROWS BETWEEN 1 FOLLOWING
                                AND UNBOUNDED FOLLOWING), 0) AS cb_above
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a,
                     sum(cb)::BIGINT AS n_b,
                     sum(ca * (cb_below - cb_above))::BIGINT AS delta_num
              FROM cum
            )
            SELECT n_a, n_b, delta_num,
                   CASE WHEN n_a * n_b > 0 THEN
                     floor(delta_num::DOUBLE / (n_a * n_b)::DOUBLE * 1e6)
                       / 1e6
                   END AS delta_q6,
                   CASE WHEN n_a * n_b > 0 THEN
                     CASE WHEN abs(delta_num) * 1000 < 147 * n_a * n_b
                            THEN 'negligible'
                          WHEN abs(delta_num) * 1000 < 330 * n_a * n_b
                            THEN 'small'
                          WHEN abs(delta_num) * 1000 < 474 * n_a * n_b
                            THEN 'medium'
                          ELSE 'large' END
                   END AS magnitude
            FROM agg
        """,
        "q_cochran_q": """
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     CASE WHEN n_chars % 7 < 4 THEN 1 ELSE 0 END AS s
              FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     CASE WHEN n_chars % 5 < 3 THEN 1 ELSE 0 END
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END
              FROM documents
            ),
            rt AS (
              SELECT count(*)::BIGINT AS k,
                     sum(t * t)::BIGINT AS sum_t2,
                     sum(t)::BIGINT AS grand
              FROM (SELECT rater, sum(s)::BIGINT AS t
                    FROM long GROUP BY rater)
            ),
            it AS (
              SELECT count(*)::BIGINT AS n_items,
                     sum(r)::BIGINT AS sum_r,
                     sum(r * r)::BIGINT AS sum_r2
              FROM (SELECT doc_id, sum(s)::BIGINT AS r
                    FROM long GROUP BY doc_id)
            )
            SELECT n_items, k, grand,
                   CASE WHEN k * sum_r - sum_r2 > 0 THEN
                     floor((k - 1)::DOUBLE
                           * (k * sum_t2 - grand * grand)::DOUBLE
                           / (k * sum_r - sum_r2)::DOUBLE * 1e6) / 1e6
                   END AS q_q6
            FROM rt, it
        """,
        "q_friedman": """
            WITH cells AS (
              SELECT o_custkey % 50 AS subj, o_orderpriority AS trt,
                     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS v
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT subj, trt,
                     (2 * rank() OVER (PARTITION BY subj ORDER BY v)
                      + count(*) OVER (PARTITION BY subj, v)
                      - 1)::BIGINT AS r2
              FROM cells
            ),
            scal AS (
              SELECT sum(r2 * r2)::BIGINT AS a4,
                     count(DISTINCT subj)::BIGINT AS n_subj,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            per_trt AS (
              SELECT trt, sum(r2)::BIGINT AS r2_sum
              FROM ranked GROUP BY trt
            ),
            s AS (
              SELECT sum((r2_sum - n_subj * (k + 1))
                         * (r2_sum - n_subj * (k + 1)))::BIGINT AS s4,
                     max(a4) AS a4,
                     max(n_subj) AS n_subjects,
                     max(k) AS k
              FROM per_trt, scal
            )
            SELECT n_subjects, k,
                   CASE WHEN a4 > n_subjects * k * (k + 1) * (k + 1) THEN
                     floor((k - 1)::DOUBLE * s4::DOUBLE
                           / (a4 - n_subjects * k * (k + 1) * (k + 1))::DOUBLE
                           * 1e6) / 1e6
                   END AS q_q6
            FROM s
        """,
        "q_mann_kendall": """
            WITH v AS (
              SELECT user_id,
                     CAST(floor(epoch_us(ts) / 60000000.0) AS BIGINT)
                       AS x,
                     CAST(round(value * 100, 0) AS BIGINT) AS vq
              FROM events
            ),
            s AS (
              SELECT a.user_id,
                     sum(CASE WHEN b.vq > a.vq THEN 1
                              WHEN b.vq < a.vq THEN -1
                              ELSE 0 END)::BIGINT AS s_stat
              FROM v a JOIN v b
                ON a.user_id = b.user_id AND a.x < b.x
              GROUP BY a.user_id
            ),
            n AS (
              SELECT user_id, count(*)::BIGINT AS n
              FROM v GROUP BY user_id
            ),
            t AS (
              SELECT user_id,
                     sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tt
              FROM (
                SELECT user_id, vq, count(*)::BIGINT AS t
                FROM v GROUP BY user_id, vq
              ) GROUP BY user_id
            )
            SELECT n.user_id, n.n, s.s_stat,
                   (n.n * (n.n - 1) * (2 * n.n + 5) - t.tt)::BIGINT
                     AS var18,
                   CASE WHEN (n.n * (n.n - 1) * (2 * n.n + 5) - t.tt) > 0
                        THEN floor(
                          (s.s_stat::DOUBLE
                           - (CASE WHEN s.s_stat > 0 THEN 1.0
                                   WHEN s.s_stat < 0 THEN -1.0
                                   ELSE 0.0 END))
                          / sqrt((n.n * (n.n - 1) * (2 * n.n + 5)
                                  - t.tt)::DOUBLE / 18.0) * 1e6) / 1e6
                   END AS z_q6
            FROM n JOIN s USING (user_id) JOIN t USING (user_id)
        """,
        "q_cusum": """
            WITH b AS (
              SELECT user_id,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     )::INTEGER AS idx,
                     CAST(round(value * 100, 0) AS BIGINT) AS v_q
              FROM events
            ),
            p AS (
              SELECT user_id, idx, v_q,
                     sum(v_q - 25500) OVER (
                       PARTITION BY user_id ORDER BY idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS pp
              FROM b
            ),
            c AS (
              SELECT user_id, idx, v_q,
                     (pp - min(least(pp, 0)) OVER (
                        PARTITION BY user_id ORDER BY idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ))::BIGINT AS cusum_q
              FROM p
            )
            SELECT user_id, idx, v_q, cusum_q,
                   cusum_q > 200000 AS alarm
            FROM c
        """,
        "q_bh_fdr": """
            WITH p AS (
              SELECT event_type AS g,
                     CAST(concat('0x', substr(
                       md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS pq
              FROM events
            ),
            k AS (
              SELECT g, pq,
                     count(*) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS k_le,
                     count(*) OVER (PARTITION BY g) AS m
              FROM p
            ),
            c AS (
              SELECT g, pq, k_le, m,
                     max(CASE WHEN pq * m * 100 <= k_le * 5 * 1000000
                              THEN pq END) OVER (PARTITION BY g) AS thr
              FROM k
            )
            SELECT g AS event_type, pq AS p_q,
                   k_le::BIGINT AS k_le, m::BIGINT AS m,
                   (thr IS NOT NULL AND pq <= thr) AS reject
            FROM c
        """,
        "q_winsorize_exact": """
            WITH b AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS v_q
              FROM events
            ),
            cnt AS (
              SELECT g, v_q, count(*)::BIGINT AS c FROM b GROUP BY g, v_q
            ),
            cum AS (
              SELECT g, v_q, c,
                     sum(c) OVER (
                       PARTITION BY g ORDER BY v_q
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS cum,
                     sum(c) OVER (PARTITION BY g) AS n
              FROM cnt
            ),
            lo AS (
              SELECT g, min(v_q) AS lo FROM cum
              WHERE cum * 100 >= n * 5 GROUP BY g
            ),
            hi AS (
              SELECT g, min(v_q) AS hi FROM cum
              WHERE cum * 100 >= n * 95 GROUP BY g
            )
            SELECT b.g AS event_type, b.v_q,
                   greatest(least(b.v_q, hi.hi), lo.lo)::BIGINT AS v_wins,
                   (b.v_q < lo.lo OR b.v_q > hi.hi) AS clamped
            FROM b JOIN lo ON b.g = lo.g JOIN hi ON b.g = hi.g
        """,
        "q_keyness": """
            WITH terms AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT word, sum(in_a)::BIGINT AS a,
                     sum(1 - in_a)::BIGINT AS b
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(in_a)::BIGINT AS na,
                     sum(1 - in_a)::BIGINT AS nb
              FROM terms
            )
            SELECT word, a, b,
                   floor(2.0 * (
                     (CASE WHEN a > 0 THEN a::DOUBLE * ln(
                        a::DOUBLE / (na::DOUBLE
                          * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE)))
                      ELSE 0.0 END)
                     + (CASE WHEN b > 0 THEN b::DOUBLE * ln(
                        b::DOUBLE / (nb::DOUBLE
                          * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE)))
                      ELSE 0.0 END)
                   ) * 10000) / 10000 AS g2_q,
                   (CASE WHEN a::DOUBLE * nb::DOUBLE
                              > b::DOUBLE * na::DOUBLE THEN 1
                         WHEN a::DOUBLE * nb::DOUBLE
                              < b::DOUBLE * na::DOUBLE THEN -1
                         ELSE 0 END)::INTEGER AS direction
            FROM wc, tot
            WHERE a + b >= 5
            ORDER BY g2_q DESC, word
            LIMIT 100
        """,
        "q_ngram_commonness": f"""
            WITH {_SHINGLES_CTE},
            dfreq AS (
              SELECT shingle, count(*)::BIGINT AS df
              FROM sh GROUP BY shingle
            )
            SELECT sh.id AS doc_id,
                   count(*)::BIGINT AS n_shingles,
                   sum((df >= 5)::INTEGER)::BIGINT AS n_common,
                   floor(sum((df >= 5)::INTEGER) * 1000000.0
                         / count(*))::BIGINT AS common_ppm
            FROM sh JOIN dfreq USING (shingle)
            GROUP BY sh.id
        """,
        "q_kappa_langid": f"""
            WITH p AS (
              SELECT lang AS a, {_LANG_CASE} AS b FROM documents
            ),
            na AS (
              SELECT count(*)::BIGINT AS n,
                     sum((a = b)::INTEGER)::BIGINT AS agree
              FROM p
            ),
            ma AS (SELECT a, count(*)::BIGINT AS ra FROM p GROUP BY a),
            mb AS (
              SELECT b AS a, count(*)::BIGINT AS rb FROM p GROUP BY b
            ),
            cx AS (
              SELECT coalesce(sum(ra * rb), 0)::BIGINT AS chance_x
              FROM ma JOIN mb USING (a)
            )
            SELECT n, agree, chance_x,
                   CASE WHEN n * n <> chance_x THEN
                     floor((n * agree - chance_x)::DOUBLE
                           / (n * n - chance_x)::DOUBLE * 1e6) / 1e6
                   END AS kappa_q6
            FROM na, cx
        """,
        "q_isotonic": """
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            bt AS (
              SELECT least(greatest(CAST(floor(
                       ((s4::DOUBLE / 10000.0) - (-1.0)) / 2.0 * 20
                     ) AS INT), 0), 19) AS bin,
                     count(*)::BIGINT AS w, sum(y)::BIGINT AS s
              FROM sc GROUP BY 1
            ),
            idx AS (
              SELECT bin, w, s,
                     row_number() OVER (ORDER BY bin)::BIGINT AS k
              FROM bt
            ),
            pre AS (
              SELECT k, bin, w, s,
                     sum(w) OVER (ORDER BY k)::BIGINT AS cw,
                     sum(s) OVER (ORDER BY k)::BIGINT AS cs
              FROM idx
            ),
            trip AS (
              SELECT kk.k AS k, i.k AS ki,
                     (j.cs - (i.cs - i.s))::DOUBLE
                       / (j.cw - (i.cw - i.w))::DOUBLE AS a
              FROM pre i, pre kk, pre j
              WHERE i.k <= kk.k AND j.k >= kk.k
            ),
            innr AS (
              SELECT k, ki, min(a) AS mn FROM trip GROUP BY k, ki
            ),
            fit AS (SELECT k, max(mn) AS f FROM innr GROUP BY k)
            SELECT b.bin::INT AS bin, b.w AS n, b.s AS pos,
                   CAST(floor(f * 1e6) AS BIGINT) AS fit_ppm
            FROM idx b JOIN fit USING (k)
        """,
        "q_quantile_norm": """
            WITH vals AS (
              SELECT source AS g, doc_id AS id,
                     CAST(round(n_chars * 1.0, 0) AS BIGINT) AS vq
              FROM documents
            ),
            pooled AS (
              SELECT vq, count(*)::BIGINT AS c FROM vals GROUP BY vq
            ),
            cumt AS (
              SELECT vq, sum(c) OVER (ORDER BY vq)::BIGINT AS cum
              FROM pooled
            ),
            tot AS (SELECT sum(c)::BIGINT AS N FROM pooled),
            pos AS (
              SELECT b, CAST(floor(
                       (b * (N - 1))::DOUBLE / 64.0
                     ) AS BIGINT) + 1 AS p
              FROM (SELECT unnest(range(65)) AS b) bb, tot
            ),
            anch AS (
              SELECT b, min(vq) AS av
              FROM pos JOIN cumt ON cumt.cum >= pos.p
              GROUP BY b
            ),
            ranked AS (
              SELECT g, id, vq,
                     row_number() OVER (
                       PARTITION BY g ORDER BY vq, id
                     )::BIGINT AS i,
                     count(*) OVER (PARTITION BY g)::BIGINT AS ng
              FROM vals
            ),
            rb AS (
              SELECT g, id, vq,
                     CASE WHEN ng = 1 THEN 32
                          ELSE CAST(floor(
                            ((i - 1) * 64)::DOUBLE / (ng - 1)::DOUBLE
                          ) AS BIGINT)
                     END AS b
              FROM ranked
            )
            SELECT g, id, vq::DOUBLE AS value_q, av::DOUBLE AS norm_q
            FROM rb JOIN anch USING (b)
        """,
        "q_chi2_indep": """
            WITH cells AS (
              SELECT lang AS a, source AS b, count(*)::BIGINT AS o
              FROM documents GROUP BY 1, 2
            ),
            rt AS (SELECT a, sum(o)::BIGINT AS ra FROM cells GROUP BY a),
            ct AS (SELECT b, sum(o)::BIGINT AS cb FROM cells GROUP BY b),
            n AS (SELECT sum(o)::BIGINT AS N FROM cells),
            j AS (
              SELECT c.a, c.b, c.o,
                     (rt.ra::HUGEINT * ct.cb::HUGEINT)::DOUBLE
                       / n.N::DOUBLE AS e
              FROM cells c
              JOIN rt ON c.a = rt.a
              JOIN ct ON c.b = ct.b
              CROSS JOIN n
            )
            SELECT a, b, o AS observed,
                   CAST(floor(e * 1e6) AS BIGINT) AS expected_ppm,
                   CAST(floor(
                     (o::DOUBLE - e) * (o::DOUBLE - e) / e * 1e6
                   ) AS BIGINT) AS chi2_ppm
            FROM j
        """,
        "q_gini_sources": """
            WITH w AS (
              SELECT source AS g, sum(n_chars)::BIGINT AS w
              FROM documents GROUP BY source
            ),
            r AS (
              SELECT w, row_number() OVER (ORDER BY w ASC, g ASC) AS i
              FROM w
            ),
            a AS (
              SELECT count(*)::BIGINT AS n, sum(w)::BIGINT AS tw,
                     sum(i::HUGEINT * w::HUGEINT) AS iw,
                     sum(w::HUGEINT * w::HUGEINT) AS w2,
                     max(w)::BIGINT AS wmax
              FROM r
            )
            SELECT n AS n_groups, tw AS total_w,
                   CAST(floor(
                     (2::HUGEINT * iw - (n + 1)::HUGEINT * tw::HUGEINT)
                       ::DOUBLE
                     / (n::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS gini_ppm,
                   CAST(floor(
                     w2::DOUBLE
                     / (tw::HUGEINT * tw::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS hhi_ppm,
                   CAST(floor(wmax::DOUBLE / tw::DOUBLE * 1e6)
                        AS BIGINT) AS top_share_ppm
            FROM a
        """,
        "q_cooccur_lift": """
            WITH b AS (
              SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ),
            n AS (SELECT count(DISTINCT bk)::BIGINT AS nb FROM b),
            s AS (SELECT it, count(*)::BIGINT AS n1 FROM b GROUP BY it),
            p2 AS (
              SELECT x.it AS ia, y.it AS ib, count(*)::BIGINT AS nab
              FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
              GROUP BY x.it, y.it
              HAVING count(*) >= 3
            )
            SELECT ia AS item_a, ib AS item_b, nab AS n_ab,
                   sa.n1 AS n_a, sb.n1 AS n_b, nb AS n_baskets,
                   CAST(floor(nab::DOUBLE / nb::DOUBLE * 1e6)
                        AS BIGINT) AS support_ppm,
                   CAST(floor(nab::DOUBLE / sa.n1::DOUBLE * 1e6)
                        AS BIGINT) AS confidence_ppm,
                   CAST(floor(
                     (nb::HUGEINT * nab::HUGEINT)::DOUBLE
                     / (sa.n1::HUGEINT * sb.n1::HUGEINT)::DOUBLE * 1e6
                   ) AS BIGINT) AS lift_ppm
            FROM p2
            JOIN s sa ON p2.ia = sa.it
            JOIN s sb ON p2.ib = sb.it
            CROSS JOIN n
        """,
        "q_bootstrap_ci": """
            WITH f AS (
              SELECT e.event_type AS g, e.event_id AS id,
                     CAST(round(e.value * 1000000, 0) AS BIGINT) AS vq,
                     r.r
              FROM events e
              CROSS JOIN (SELECT unnest(range(40)) AS r) r
            ),
            h AS (
              SELECT g, r, vq,
                     CAST(('0x' || substring(
                       md5(id::VARCHAR || ':' || r::VARCHAR), 1, 15
                     )) AS BIGINT) AS hv
              FROM f
            ),
            c AS (
              SELECT g, r, vq,
                     ((hv >= 424136118829305344)::INT
                    + (hv >= 848272237658610688)::INT
                    + (hv >= 1060340297073263360)::INT
                    + (hv >= 1131029650211480960)::INT
                    + (hv >= 1148701988496035328)::INT
                    + (hv >= 1152236456152946176)::INT
                    + (hv >= 1152825534095764608)::INT
                    + (hv >= 1152909688087595776)::INT
                    + (hv >= 1152920207336574720)::INT)::BIGINT AS cnt
              FROM h
            ),
            rep AS (
              SELECT g, r, sum(cnt)::BIGINT AS n,
                     sum(cnt * vq)::BIGINT AS s
              FROM c GROUP BY g, r
              HAVING sum(cnt) > 0
            ),
            m AS (
              SELECT g,
                     CAST(floor(
                       s::DOUBLE / n::DOUBLE / 1000000.0 * 1e6
                     ) AS BIGINT) AS m_ppm
              FROM rep
            ),
            o AS (
              SELECT g, count(*)::BIGINT AS nr,
                     list_sort(list(m_ppm)) AS ms,
                     sum(m_ppm)::HUGEINT AS tot
              FROM m GROUP BY g
            )
            SELECT g AS event_type, nr AS n_replicas,
                   CAST(floor(tot::DOUBLE / nr::DOUBLE)
                        AS BIGINT) AS mean_ppm,
                   ms[CAST(floor((nr - 1) / 20.0) AS INT) + 1]
                     AS ci_lo_ppm,
                   ms[CAST(nr AS INT)
                      - CAST(floor((nr - 1) / 20.0) AS INT)]
                     AS ci_hi_ppm
            FROM o
        """,
        "q_kaplan_meier": _KM_SQL,
        "q_nelson_aalen": _NA_SQL,
        "q_log_rank": _LOGRANK_SQL,
        "q_welch": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN v ELSE 0 END)::BIGINT AS s_a,
                sum(CASE WHEN g = ga THEN 0 ELSE v END)::BIGINT AS s_b,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 1 ELSE 0 END) AS q_a,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 0 ELSE 1 END) AS q_b
              FROM base, gm
            ),
            terms AS (
              SELECT n_a, n_b,
                s_a::DOUBLE / n_a::DOUBLE AS ma,
                s_b::DOUBLE / n_b::DOUBLE AS mb,
                (q_a::DOUBLE - (s_a::DOUBLE / n_a::DOUBLE) * s_a::DOUBLE)
                  / (n_a::DOUBLE - 1.0) AS va,
                (q_b::DOUBLE - (s_b::DOUBLE / n_b::DOUBLE) * s_b::DOUBLE)
                  / (n_b::DOUBLE - 1.0) AS vb
              FROM agg
            ),
            fin AS (
              SELECT n_a, n_b, ma, mb, va, vb,
                va / n_a::DOUBLE + vb / n_b::DOUBLE AS se2,
                va / n_a::DOUBLE AS sea, vb / n_b::DOUBLE AS seb,
                sqrt(((n_a::DOUBLE - 1.0) * va + (n_b::DOUBLE - 1.0) * vb)
                     / (n_a::DOUBLE + n_b::DOUBLE - 2.0)) AS sp
              FROM terms
            )
            SELECT n_a, n_b,
              floor(ma / 100.0 * 1e6) / 1e6 AS mean_a_q6,
              floor(mb / 100.0 * 1e6) / 1e6 AS mean_b_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                floor((ma - mb) / sqrt(se2) * 1e6) / 1e6 END AS t_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                floor((se2 * se2)
                      / (sea * sea / (n_a::DOUBLE - 1.0)
                         + seb * seb / (n_b::DOUBLE - 1.0))
                      * 1e6) / 1e6 END AS df_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 AND sp > 0 THEN
                floor((ma - mb) / sp * 1e6) / 1e6 END AS d_q6
            FROM fin
        """,
        "q_cochran_armitage": """
            WITH base AS (
              SELECT CAST(floor(n_chars / 100) AS BIGINT) AS x,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS e
              FROM documents
              WHERE n_chars IS NOT NULL
            ),
            per AS (
              SELECT x, count(*)::BIGINT AS n_j, sum(e)::BIGINT AS r_j
              FROM base GROUP BY x
            ),
            agg AS (
              SELECT sum(n_j)::BIGINT AS n, count(*)::BIGINT AS k_doses,
                     sum(r_j)::BIGINT AS r,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(n_j AS DECIMAL(38,0))) AS sxn,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(r_j AS DECIMAL(38,0))) AS sxr,
                     sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))
                         * CAST(n_j AS DECIMAL(38,0))) AS sxx
              FROM per
            ),
            fin AS (
              SELECT n, k_doses, r,
                n::DOUBLE * sxr::DOUBLE - r::DOUBLE * sxn::DOUBLE AS num,
                r::DOUBLE * (n::DOUBLE - r::DOUBLE)
                  * (n::DOUBLE * sxx::DOUBLE - sxn::DOUBLE * sxn::DOUBLE)
                  AS den
              FROM agg
            )
            SELECT n, k_doses,
              CASE WHEN r > 0 AND r < n AND k_doses > 1 THEN
                floor(n::DOUBLE * num * num / den * 1e6) / 1e6
              END AS chi2_q6,
              CASE WHEN r > 0 AND r < n AND k_doses > 1 THEN
                floor(sign(num) * sqrt(n::DOUBLE * num * num / den)
                      * 1e6) / 1e6
              END AS z_q6
            FROM fin
        """,
        "q_encoding_health": enc_health,
        "q_heavy_hitters": """
            WITH w AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            tot AS (SELECT count(*)::BIGINT AS n FROM w)
            SELECT word AS item, count(*)::BIGINT AS cnt
            FROM w, tot GROUP BY word, n
            HAVING count(*) >= ceil(n * 0.002)
        """,
        "q_prf_expand": prf_expand_sql,
        "q_prf_rerank": prf_rerank_sql,


        "q_slope_break": """
            WITH base AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS y,
                     ts, event_id
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            idx AS (
              SELECT g, y,
                     row_number() OVER (PARTITION BY g
                       ORDER BY ts, event_id) AS x
              FROM base
            ),
            pre AS (
              SELECT g, x,
                sum(x) OVER wr AS sx, sum(y) OVER wr AS sy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) OVER wr AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) OVER wr AS syy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) OVER wr AS sxy,
                count(*) OVER (PARTITION BY g) AS n,
                sum(x) OVER (PARTITION BY g) AS tx,
                sum(y) OVER (PARTITION BY g) AS ty,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS txx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS tyy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0)))
                  OVER (PARTITION BY g) AS txy
              FROM idx
              WINDOW wr AS (PARTITION BY g ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            c1 AS (
              SELECT g, n, x,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / x::DOUBLE
                  AS cxxl,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / x::DOUBLE
                  AS cxyl,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / x::DOUBLE
                  AS cyyl,
                (txx - sxx)::DOUBLE
                  - (tx - sx)::DOUBLE * (tx - sx)::DOUBLE
                    / (n - x)::DOUBLE AS cxxr,
                (txy - sxy)::DOUBLE
                  - (tx - sx)::DOUBLE * (ty - sy)::DOUBLE
                    / (n - x)::DOUBLE AS cxyr,
                (tyy - syy)::DOUBLE
                  - (ty - sy)::DOUBLE * (ty - sy)::DOUBLE
                    / (n - x)::DOUBLE AS cyyr,
                txx::DOUBLE - tx::DOUBLE * tx::DOUBLE / n::DOUBLE
                  AS cxx1,
                txy::DOUBLE - tx::DOUBLE * ty::DOUBLE / n::DOUBLE
                  AS cxy1,
                tyy::DOUBLE - ty::DOUBLE * ty::DOUBLE / n::DOUBLE
                  AS cyy1
              FROM pre
            ),
            c2 AS (
              SELECT g, n, x AS b,
                (CASE WHEN cxxl > 0
                      THEN cyyl - cxyl * cxyl / cxxl ELSE cyyl END)
                + (CASE WHEN cxxr > 0
                        THEN cyyr - cxyr * cxyr / cxxr ELSE cyyr END)
                  AS sse,
                CASE WHEN cxxl <> 0 THEN cxyl / cxxl END AS sl,
                CASE WHEN cxxr <> 0 THEN cxyr / cxxr END AS sr,
                CASE WHEN cxx1 > 0
                     THEN cyy1 - cxy1 * cxy1 / cxx1 ELSE cyy1 END
                  AS sse1
              FROM c1 WHERE x >= 3 AND x <= n - 3
            ),
            best AS (
              SELECT g, n, b, sl, sr, sse, sse1,
                row_number() OVER (PARTITION BY g
                  ORDER BY sse ASC, b ASC) AS rn
              FROM c2
            )
            SELECT g AS event_type, n::BIGINT AS n, b::BIGINT
                     AS break_idx,
              CASE WHEN sl IS NOT NULL THEN
                floor(sl / 100.0 * 1e6) / 1e6 END AS slope_l_q6,
              CASE WHEN sr IS NOT NULL THEN
                floor(sr / 100.0 * 1e6) / 1e6 END AS slope_r_q6,
              floor(sse / 10000.0 * 100.0) / 100.0 AS sse_break_q2,
              floor(sse1 / 10000.0 * 100.0) / 100.0 AS sse_single_q2,
              CASE WHEN sse1 > 0 THEN
                floor((1.0 - sse / sse1) * 1e6) / 1e6 END AS gain_q6
            FROM best WHERE rn = 1
        """,
        "q_ece": """
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            bins AS (
              SELECT least(greatest(
                       floor(((s4::DOUBLE / 10000.0) - (-1.0)) / 0.2
                       )::INTEGER, 0), 9) AS bin,
                     count(*)::BIGINT AS n,
                     sum(y)::DOUBLE / count(*)::DOUBLE AS pos_rate,
                     sum(s4)::DOUBLE / (count(*) * 10000)::DOUBLE
                       AS mean_score
              FROM sc GROUP BY 1
            ),
            tot AS (SELECT sum(n)::BIGINT AS nn FROM bins),
            stepped AS (
              SELECT nn,
                sum(n::DOUBLE / nn::DOUBLE
                    * abs(pos_rate - mean_score)) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS ece,
                max(abs(pos_rate - mean_score)) OVER () AS mce,
                row_number() OVER (ORDER BY bin) AS rn,
                count(*) OVER () AS k
              FROM bins, tot
            )
            SELECT nn AS n, k::BIGINT AS n_bins_used,
              floor(ece * 1e6) / 1e6 AS ece_q6,
              floor(mce * 1e6) / 1e6 AS mce_q6
            FROM stepped WHERE rn = k
        """,
        "q_fairness": """
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            cells AS (
              SELECT source AS "group", count(*)::BIGINT AS n,
                sum(CASE WHEN s4 > 0 AND y = 1 THEN 1 ELSE 0
                    END)::BIGINT AS tp,
                sum(CASE WHEN s4 > 0 AND y = 0 THEN 1 ELSE 0
                    END)::BIGINT AS fp,
                sum(CASE WHEN s4 <= 0 AND y = 1 THEN 1 ELSE 0
                    END)::BIGINT AS fn,
                sum(CASE WHEN s4 <= 0 AND y = 0 THEN 1 ELSE 0
                    END)::BIGINT AS tn
              FROM sc GROUP BY 1
            ),
            rates AS (
              SELECT "group", n,
                floor((tp + fp)::DOUBLE / n::DOUBLE * 1e6) / 1e6
                  AS sel_rate_q6,
                CASE WHEN tp + fn > 0 THEN
                  floor(tp::DOUBLE / (tp + fn)::DOUBLE * 1e6) / 1e6
                END AS tpr_q6,
                CASE WHEN fp + tn > 0 THEN
                  floor(fp::DOUBLE / (fp + tn)::DOUBLE * 1e6) / 1e6
                END AS fpr_q6
              FROM cells
            )
            SELECT "group", n, sel_rate_q6, tpr_q6, fpr_q6,
              max(sel_rate_q6) OVER () - min(sel_rate_q6) OVER ()
                AS sel_gap_q6,
              max(tpr_q6) OVER () - min(tpr_q6) OVER () AS tpr_gap_q6,
              max(fpr_q6) OVER () - min(fpr_q6) OVER () AS fpr_gap_q6
            FROM rates
        """,
        "q_rmst": (
            "WITH km AS (" + _KM_SQL + """),
            seg AS (
              SELECT duration AS start, survival_q AS sq,
                     lead(duration) OVER (ORDER BY duration) AS nxt
              FROM km
            ),
            body AS (
              SELECT start, sq,
                     (least(coalesce(nxt, 5000), 5000)
                      - start)::DOUBLE AS len
              FROM seg WHERE start < 5000
            ),
            fst AS (SELECT min(duration) AS t1 FROM km),
            ini AS (
              SELECT CAST(-1 AS BIGINT) AS start, 1.0 AS sq,
                     least(t1, 5000)::DOUBLE AS len
              FROM fst WHERE least(t1, 5000) > 0
            ),
            segs AS (
              SELECT * FROM ini UNION ALL SELECT * FROM body
            ),
            stepped AS (
              SELECT sum(sq * len) OVER (ORDER BY start ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS area,
                     row_number() OVER (ORDER BY start) AS rn,
                     count(*) OVER () AS k
              FROM segs
            )
            SELECT 5000::BIGINT AS tau, t1 AS t_first,
              floor(area * 1e6) / 1e6 AS rmst_q6
            FROM stepped, fst WHERE rn = k
        """),
        "q_curriculum": """
            WITH base AS (
              SELECT doc_id AS id,
                     CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS score_q
              FROM documents WHERE n_chars IS NOT NULL
            ),
            cnt AS (
              SELECT score_q, count(*)::BIGINT AS c
              FROM base GROUP BY score_q
            ),
            staged AS (
              SELECT score_q,
                     least(3, CAST(floor(cb * 4 / n) AS INTEGER))
                       AS stage
              FROM (
                SELECT score_q, c,
                  coalesce(sum(c) OVER (ORDER BY score_q ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                  sum(c) OVER () AS n
                FROM cnt
              )
            )
            SELECT b.id, b.score_q, s.stage,
                   md5(CAST(b.id AS VARCHAR)) AS sort_key
            FROM base b JOIN staged s USING (score_q)
        """,
        "q_avg_precision": """
            WITH sc AS (
              SELECT source, doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, doc_id, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            r AS (
              SELECT source, y,
                row_number() OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id ASC) AS rr,
                sum(y) OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cp
              FROM sc
            ),
            stepped AS (
              SELECT source,
                sum(CASE WHEN y = 1 THEN cp::DOUBLE / rr::DOUBLE
                         ELSE 0.0 END) OVER (PARTITION BY source
                  ORDER BY rr ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS aps,
                sum(y) OVER (PARTITION BY source) AS n_pos,
                count(*) OVER (PARTITION BY source)
                  - sum(y) OVER (PARTITION BY source) AS n_neg,
                rr,
                count(*) OVER (PARTITION BY source) AS n
              FROM r
            )
            SELECT source, n_pos::BIGINT AS n_pos,
                   n_neg::BIGINT AS n_neg,
              CASE WHEN n_pos > 0 THEN
                floor(aps / n_pos::DOUBLE * 1e6) / 1e6
              END AS ap_q6
            FROM stepped WHERE rr = n
        """,
        "q_best_f1": """
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT source,
                     CAST(round(score * 10000, 0) AS BIGINT) AS s, y
              FROM sc
            ),
            per AS (
              SELECT source, s, sum(y)::BIGINT AS p,
                     sum(1 - y)::BIGINT AS q
              FROM base GROUP BY source, s
            ),
            cum AS (
              SELECT source, s,
                sum(p) OVER wd AS tp,
                sum(q) OVER wd AS fp,
                sum(p) OVER (PARTITION BY source)
                  - sum(p) OVER wd AS fn
              FROM per
              WINDOW wd AS (PARTITION BY source ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            cand AS (
              SELECT source, s, tp, fp, fn,
                CAST(floor((2 * tp)::DOUBLE
                     / (2 * tp + fp + fn)::DOUBLE * 1e12) AS BIGINT)
                  AS f1q
              FROM cum
            ),
            best AS (
              SELECT source, s, tp, fp, fn, f1q,
                row_number() OVER (PARTITION BY source
                  ORDER BY f1q DESC, s DESC) AS rn
              FROM cand
            )
            SELECT source, s::DOUBLE / 10000.0 AS threshold, tp, fp, fn,
              floor(f1q::DOUBLE / 1e6) / 1e6 AS f1_q6
            FROM best WHERE rn = 1
        """,
        "q_partition_agreement": """
            WITH base AS (
              SELECT lang AS a, source AS b FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
            ),
            ab AS (
              SELECT a, b, count(*)::BIGINT AS c FROM base GROUP BY a, b
            ),
            ma AS (SELECT a, sum(c)::BIGINT AS ca FROM ab GROUP BY a),
            mb AS (SELECT b, sum(c)::BIGINT AS cb FROM ab GROUP BY b),
            sa2 AS (
              SELECT CAST(sum(CAST(ca AS DECIMAL(38,0))
                     * CAST(ca - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS sad FROM ma
            ),
            sb2 AS (
              SELECT CAST(sum(CAST(cb AS DECIMAL(38,0))
                     * CAST(cb - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS sbd FROM mb
            ),
            ix AS (
              SELECT CAST(sum(CAST(c AS DECIMAL(38,0))
                     * CAST(c - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS ixd FROM ab
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM ab),
            cells AS (
              SELECT a, b, c,
                     sum(c) OVER (PARTITION BY a) AS cma,
                     sum(c) OVER (PARTITION BY b) AS cmb
              FROM ab
            ),
            stepped AS (
              SELECT
                sum(c::DOUBLE / n::DOUBLE
                    * ln(n::DOUBLE / c::DOUBLE)) OVER w AS hab,
                sum(c::DOUBLE / n::DOUBLE
                    * ln(cmb::DOUBLE / c::DOUBLE)) OVER w AS hagb,
                sum(c::DOUBLE / n::DOUBLE
                    * ln(cma::DOUBLE / c::DOUBLE)) OVER w AS hbga,
                row_number() OVER (ORDER BY a, b) AS rn,
                count(*) OVER () AS k
              FROM cells, tot
              WINDOW w AS (ORDER BY a, b ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)
            ),
            lastr AS (SELECT hab, hagb, hbga FROM stepped WHERE rn = k),
            f AS (
              SELECT n,
                ixd::DOUBLE / 2.0 AS idx,
                sad::DOUBLE / 2.0 AS sav,
                sbd::DOUBLE / 2.0 AS sbv,
                hab, hagb, hbga,
                hab - hbga AS ha, hab - hagb AS hb2
              FROM lastr, sa2, sb2, ix, tot
            ),
            g AS (
              SELECT n, hab, hagb, hbga, ha, hb2,
                idx - sav * sbv
                  / (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0) AS num,
                (sav + sbv) / 2.0
                  - sav * sbv
                    / (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0) AS den
              FROM f
            )
            SELECT n,
              CASE WHEN den <> 0 THEN floor(num / den * 1e6) / 1e6
              END AS ari_q6,
              CASE WHEN ha > 0 AND hb2 > 0 THEN
                floor((ha - hagb) / sqrt(ha * hb2) * 1e6) / 1e6
              END AS nmi_q6,
              CASE WHEN ha > 0 THEN
                floor((1.0 - hagb / ha) * 1e6) / 1e6
              END AS homogeneity_q6,
              CASE WHEN hb2 > 0 THEN
                floor((1.0 - hbga / hb2) * 1e6) / 1e6
              END AS completeness_q6,
              CASE WHEN ha > 0 AND hb2 > 0
                   AND ((1.0 - hagb / ha) + (1.0 - hbga / hb2)) > 0
              THEN
                floor(2.0 * (1.0 - hagb / ha) * (1.0 - hbga / hb2)
                      / ((1.0 - hagb / ha) + (1.0 - hbga / hb2))
                      * 1e6) / 1e6
              END AS v_q6
            FROM g
        """,
        "q_huber": """
            WITH base AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS v
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            vg AS (
              SELECT g, v, count(*)::BIGINT AS c FROM base GROUP BY g, v
            ),
            r1 AS (
              SELECT g, v, c,
                coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cb,
                sum(c) OVER (PARTITION BY g) AS ng
              FROM vg
            ),
            m1 AS (
              SELECT g,
                sum(v * (CASE WHEN cb < floor((ng + 1) / 2)
                              AND cb + c >= floor((ng + 1) / 2)
                         THEN 1 ELSE 0 END
                         + CASE WHEN cb < floor(ng / 2) + 1
                                AND cb + c >= floor(ng / 2) + 1
                           THEN 1 ELSE 0 END))::BIGINT AS med2,
                max(ng)::BIGINT AS ng
              FROM r1 GROUP BY g
            ),
            dev AS (
              SELECT vg.g, vg.c,
                     abs(2 * vg.v - m1.med2) AS a2,
                     2 * vg.v - m1.med2 AS d2
              FROM vg JOIN m1 ON vg.g = m1.g
            ),
            devc AS (
              SELECT g, a2, sum(c)::BIGINT AS c FROM dev GROUP BY g, a2
            ),
            r2 AS (
              SELECT g, a2, c,
                coalesce(sum(c) OVER (PARTITION BY g ORDER BY a2
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS cb,
                sum(c) OVER (PARTITION BY g) AS ng
              FROM devc
            ),
            m2 AS (
              SELECT g,
                sum(a2 * (CASE WHEN cb < floor((ng + 1) / 2)
                               AND cb + c >= floor((ng + 1) / 2)
                          THEN 1 ELSE 0 END
                          + CASE WHEN cb < floor(ng / 2) + 1
                                 AND cb + c >= floor(ng / 2) + 1
                            THEN 1 ELSE 0 END))::BIGINT AS mad4
              FROM r2 GROUP BY g
            ),
            ag AS (
              SELECT dev.g,
                sum(dev.c * greatest(-(m2.mad4 * 3),
                    least(m2.mad4 * 3, 2 * dev.d2 * 2)))::BIGINT AS cs
              FROM dev JOIN m2 ON dev.g = m2.g GROUP BY dev.g
            )
            SELECT m1.g AS event_type, m1.ng AS n_g,
              floor(m1.med2::DOUBLE / 2.0 / 100.0 * 1e6) / 1e6
                AS median_q6,
              floor((m1.med2::DOUBLE / 2.0
                     + cs::DOUBLE / (4.0 * m1.ng::DOUBLE * 2.0))
                    / 100.0 * 1e6) / 1e6 AS huber_q6
            FROM m1 JOIN ag ON m1.g = ag.g
        """,
        "q_kmv_setops": """
            WITH ha AS (
              SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_id % 2 = 0
            ),
            hb AS (
              SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
              FROM events WHERE event_id % 2 = 1
            ),
            ka AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM ha
              QUALIFY rank <= 64
            ),
            kb AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM hb
              QUALIFY rank <= 64
            ),
            hu AS (SELECT h FROM ka UNION SELECT h FROM kb),
            ku AS (
              SELECT h, row_number() OVER (ORDER BY h) AS rank FROM hu
              QUALIFY rank <= 64
            ),
            ea AS (
              SELECT count(*)::BIGINT AS n_a_seen,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_a
              FROM ka
            ),
            eb AS (
              SELECT count(*)::BIGINT AS n_b_seen,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_b
              FROM kb
            ),
            eu AS (
              SELECT count(*)::BIGINT AS union_k,
                CASE WHEN count(*) < 64 THEN count(*)::BIGINT
                     ELSE CAST(floor(63 * power(2.0, 60)
                          / (max(CASE WHEN rank = 64 THEN h
                                 END))::DOUBLE) AS BIGINT)
                END AS est_union
              FROM ku
            ),
            inter AS (
              SELECT count(*)::BIGINT AS inter_in_k FROM ku
              WHERE h IN (SELECT h FROM ka)
                AND h IN (SELECT h FROM kb)
            )
            SELECT n_a_seen, n_b_seen, est_a, est_b, est_union,
              inter_in_k, union_k,
              floor(inter_in_k::DOUBLE / union_k::DOUBLE * 1e6) / 1e6
                AS jaccard_q6,
              CAST(floor(inter_in_k::DOUBLE / union_k::DOUBLE
                         * est_union::DOUBLE) AS BIGINT)
                AS est_intersection
            FROM ea, eb, eu, inter
        """,
        "q_yuen": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(user_id % 2 AS INT) AS gg
              FROM events
              WHERE value IS NOT NULL AND user_id IS NOT NULL
            ),
            gm AS (SELECT min(gg) AS ga FROM base),
            tagged AS (
              SELECT v, CASE WHEN gg = ga THEN 1 ELSE 0 END AS arm
              FROM base, gm
            ),
            cnt AS (
              SELECT arm, v, count(*)::BIGINT AS c
              FROM tagged GROUP BY arm, v
            ),
            cum AS (
              SELECT arm, v, c,
                sum(c) OVER (PARTITION BY arm ORDER BY v ROWS BETWEEN
                  UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                sum(c) OVER (PARTITION BY arm) AS n
              FROM cnt
            ),
            ext AS (
              SELECT arm, v, c, cm, n,
                     CAST(floor(n * 1 / 5) AS BIGINT) AS g
              FROM cum
            ),
            per AS (
              SELECT arm, max(n) AS n, max(g) AS g2,
                sum(greatest(0, least(n - g, cm) - greatest(g, cm - c))
                    * v)::BIGINT AS tsum,
                sum(greatest(0, least(n - g, cm)
                    - greatest(g, cm - c)))::BIGINT AS h,
                max(CASE WHEN cm - c < g + 1 AND cm >= g + 1
                         THEN v END) AS L,
                max(CASE WHEN cm - c < n - g AND cm >= n - g
                         THEN v END) AS U
              FROM ext GROUP BY arm
            ),
            wj AS (
              SELECT e.arm, e.v, e.c, p.L, p.U
              FROM ext e JOIN per p ON e.arm = p.arm
            ),
            wins AS (
              SELECT arm,
                sum(greatest(least(v, U), L) * c)::BIGINT AS ws,
                sum(CAST(greatest(least(v, U), L) AS DECIMAL(38,0))
                    * CAST(greatest(least(v, U), L) AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS wq
              FROM wj GROUP BY arm
            ),
            calc AS (
              SELECT p.arm, p.n, p.h,
                p.tsum::DOUBLE / p.h::DOUBLE AS tmean,
                (w.wq::DOUBLE
                 - w.ws::DOUBLE * w.ws::DOUBLE / p.n::DOUBLE)
                  / (p.n::DOUBLE - 1.0) AS swin
              FROM per p JOIN wins w ON p.arm = w.arm
            ),
            dd AS (
              SELECT arm, n, h, tmean,
                (n::DOUBLE - 1.0) * swin
                  / (h::DOUBLE * (h::DOUBLE - 1.0)) AS dterm
              FROM calc
            ),
            wide AS (
              SELECT a.n AS n_a, a.h AS h_a, a.tmean AS ma,
                     a.dterm AS da,
                     b.n AS n_b, b.h AS h_b, b.tmean AS mb,
                     b.dterm AS db
              FROM dd a, dd b WHERE a.arm = 1 AND b.arm = 0
            )
            SELECT n_a, n_b, h_a, h_b,
              floor(ma / 100.0 * 1e6) / 1e6 AS tmean_a_q6,
              floor(mb / 100.0 * 1e6) / 1e6 AS tmean_b_q6,
              CASE WHEN h_a > 1 AND h_b > 1 AND (da + db) > 0 THEN
                floor((ma - mb) / sqrt(da + db) * 1e6) / 1e6
              END AS t_q6,
              CASE WHEN h_a > 1 AND h_b > 1 AND (da + db) > 0 THEN
                floor((da + db) * (da + db)
                      / (da * da / (h_a::DOUBLE - 1.0)
                         + db * db / (h_b::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS df_q6
            FROM wide
        """,
        "q_rbo": """
            WITH d AS (
              SELECT doc_id, n_chars,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, n_chars, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
              FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            ),
            ra AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY score DESC, doc_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 20
            ),
            rb AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY n_chars DESC, doc_id ASC) AS rank
                FROM base
              ) WHERE rank <= 20
            ),
            m AS (
              SELECT greatest(ra.rank, rb.rank) AS mm
              FROM ra JOIN rb USING (doc_id)
            ),
            mc AS (SELECT mm, count(*)::BIGINT AS c FROM m GROUP BY mm),
            depths AS (SELECT dd FROM generate_series(1, 20) g(dd)),
            j AS (
              SELECT dd, coalesce(c, 0) AS c
              FROM depths LEFT JOIN mc ON dd = mm
            ),
            cum AS (
              SELECT dd,
                     sum(c) OVER (ORDER BY dd ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS x,
                     sum(c) OVER () AS ncommon
              FROM j
            ),
            stepped AS (
              SELECT sum(pow(0.9, (dd - 1)::DOUBLE) * x::DOUBLE
                         / dd::DOUBLE) OVER (
                       ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS s,
                     x, ncommon,
                     row_number() OVER (ORDER BY dd) AS rn
              FROM cum
            )
            SELECT 20 AS k, ncommon::BIGINT AS n_common,
                   x::BIGINT AS overlap_k,
                   floor(0.09999999999999998 * s * 1e6) / 1e6 AS rbo_q6
            FROM stepped WHERE rn = 20
        """,
        "q_mantel_haenszel": """
            WITH base AS (
              SELECT event_type AS s,
                     CAST(user_id % 2 AS INT) AS a,
                     CASE WHEN value > 150 THEN 1 ELSE 0 END AS y
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
            ),
            per AS (
              SELECT s,
                sum(a * y)::BIGINT AS ta,
                sum(a * (1 - y))::BIGINT AS tb,
                sum((1 - a) * y)::BIGINT AS tc,
                sum((1 - a) * (1 - y))::BIGINT AS td
              FROM base GROUP BY s
              HAVING (sum(a * y) + sum(a * (1 - y))
                      + sum((1 - a) * y)
                      + sum((1 - a) * (1 - y))) >= 2
            ),
            t AS (
              SELECT s, ta, tb, tc, td,
                (ta + tb + tc + td)::DOUBLE AS n
              FROM per
            ),
            stepped AS (
              SELECT
                sum(ta::DOUBLE * td::DOUBLE / n) OVER w AS r,
                sum(tb::DOUBLE * tc::DOUBLE / n) OVER w AS ss,
                sum(ta::DOUBLE
                    - (ta::DOUBLE + tb::DOUBLE)
                      * (ta::DOUBLE + tc::DOUBLE) / n) OVER w AS dev,
                sum((ta::DOUBLE + tb::DOUBLE)
                    * (tc::DOUBLE + td::DOUBLE)
                    * (ta::DOUBLE + tc::DOUBLE)
                    * (tb::DOUBLE + td::DOUBLE)
                    / (n * n * (n - 1.0))) OVER w AS v,
                row_number() OVER (ORDER BY s) AS rn,
                count(*) OVER () AS k
              FROM t
              WINDOW w AS (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            last AS (SELECT * FROM stepped WHERE rn = k)
            SELECT k::BIGINT AS k_strata,
              CASE WHEN r > 0 AND ss > 0 THEN
                floor(r / ss * 1e6) / 1e6 END AS or_mh_q6,
              CASE WHEN v > 0 THEN
                floor(dev * dev / v * 1e6) / 1e6 END AS chi2_q6
            FROM last
        """,
        "q_holm": """
            WITH p AS (
              SELECT event_type AS g,
                     CAST(concat('0x', substr(
                       md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       % 1000000 AS pq
              FROM events
            ),
            k AS (
              SELECT g, pq,
                     coalesce(count(*) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) + 1 AS r_min,
                     count(*) OVER (PARTITION BY g) AS m
              FROM p
            ),
            c AS (
              SELECT g, pq, r_min, m,
                     CASE WHEN pq * (m - r_min + 1) * 100
                            <= 5 * 1000000
                          THEN 1 ELSE 0 END AS cond
              FROM k
            ),
            f AS (
              SELECT g, pq, r_min, m,
                     min(cond) OVER (
                       PARTITION BY g ORDER BY pq
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS runmin
              FROM c
            )
            SELECT g AS event_type, pq AS p_q,
                   r_min::BIGINT AS r_min, m::BIGINT AS m,
                   (runmin = 1) AS reject
            FROM f
        """,
        "q_group_influence": """
            WITH base AS (
              SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS v,
                     source AS g
              FROM documents
              WHERE n_chars IS NOT NULL AND source IS NOT NULL
            ),
            per AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g
              FROM base GROUP BY g
            ),
            tot AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s
              FROM per
            )
            SELECT g AS "group", n_g,
              floor(s_g::DOUBLE / n_g::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_g_q6,
              CASE WHEN n_g < n THEN
                floor(((s - s_g)::DOUBLE / (n - n_g)::DOUBLE
                       - s::DOUBLE / n::DOUBLE) / 1.0 * 1e6) / 1e6
              END AS delta_q6
            FROM per, tot
        """,
        "q_token_wer": """
            WITH d AS (
              SELECT doc_id, source,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            vc AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(t) AS w FROM d) GROUP BY w
            ),
            vocab AS (
              SELECT w, CASE WHEN r <= 190 THEN r + 64 ELSE 255 END
                       AS code
              FROM (
                SELECT w, row_number() OVER (ORDER BY c DESC, w ASC)
                         AS r
                FROM vc
              )
            ),
            pos AS (
              SELECT doc_id, p, t[p] AS w
              FROM d, generate_series(1, 512) g(p) WHERE p <= len(t)
            ),
            enc0 AS (
              SELECT doc_id,
                     array_to_string(list(chr(code::INTEGER) ORDER BY p), '')
                       AS s,
                     count(*)::INTEGER AS n
              FROM pos JOIN vocab USING (w) GROUP BY doc_id
            ),
            enc AS (
              SELECT d.doc_id, coalesce(s, '') AS s, coalesce(n, 0) AS n
              FROM d LEFT JOIN enc0 USING (doc_id)
            ),
            pairs AS (
              SELECT doc_id AS id_a,
                     lead(doc_id) OVER (
                       PARTITION BY source ORDER BY doc_id) AS id_b
              FROM d
            ),
            pp AS (SELECT id_a, id_b FROM pairs WHERE id_b IS NOT NULL)
            SELECT pp.id_a, pp.id_b, a.n AS n_ref, b.n AS n_hyp,
              levenshtein(a.s, b.s)::BIGINT AS dist,
              CASE WHEN a.n > 0 THEN
                floor(levenshtein(a.s, b.s)::DOUBLE / a.n::DOUBLE
                      * 1e6) / 1e6
              END AS wer_q6
            FROM pp JOIN enc a ON pp.id_a = a.doc_id
                    JOIN enc b ON pp.id_b = b.doc_id
        """,
        "q_capture_recapture": """
            WITH a AS (
              SELECT DISTINCT user_id AS id FROM events
              WHERE event_id % 2 = 0 AND user_id IS NOT NULL
            ),
            b AS (
              SELECT DISTINCT user_id AS id FROM events
              WHERE event_id % 2 = 1 AND user_id IS NOT NULL
            ),
            agg AS (
              SELECT (SELECT count(*) FROM a)::BIGINT AS n1,
                     (SELECT count(*) FROM b)::BIGINT AS n2,
                     (SELECT count(*) FROM a JOIN b USING (id))::BIGINT
                       AS m
            )
            SELECT n1, n2, m,
              CASE WHEN m > 0 THEN
                floor(((n1::DOUBLE + 1.0) * (n2::DOUBLE + 1.0)
                       / (m::DOUBLE + 1.0) - 1.0) * 1e6) / 1e6
              END AS est_q6,
              CASE WHEN m > 0 THEN
                floor(sqrt((n1::DOUBLE + 1.0) * (n2::DOUBLE + 1.0)
                           * (n1::DOUBLE - m::DOUBLE)
                           * (n2::DOUBLE - m::DOUBLE)
                           / ((m::DOUBLE + 1.0) * (m::DOUBLE + 1.0)
                              * (m::DOUBLE + 2.0))) * 1e6) / 1e6
              END AS se_q6
            FROM agg
        """,
        "q_cond_entropy": """
            WITH seq AS (
              SELECT lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS x,
                     event_type AS y
              FROM events
            ),
            base AS (
              SELECT x, y FROM seq
              WHERE x IS NOT NULL AND y IS NOT NULL
            ),
            xy AS (
              SELECT x, y, count(*)::BIGINT AS c FROM base GROUP BY x, y
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM xy),
            cells AS (
              SELECT x, y, c, sum(c) OVER (PARTITION BY x) AS cx FROM xy
            ),
            stepped AS (
              SELECT n,
                     sum(c::DOUBLE / n::DOUBLE
                         * ln(cx::DOUBLE / c::DOUBLE)) OVER (
                       ORDER BY x, y ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS hc,
                     row_number() OVER (ORDER BY x, y) AS rn,
                     count(*) OVER () AS k
              FROM cells, tot
            ),
            hcond AS (SELECT n, hc FROM stepped WHERE rn = k),
            yc AS (SELECT y, count(*)::BIGINT AS cy FROM base GROUP BY y),
            ystep AS (
              SELECT sum(cy::DOUBLE / n::DOUBLE
                         * ln(n::DOUBLE / cy::DOUBLE)) OVER (
                       ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND
                       CURRENT ROW) AS hy,
                     row_number() OVER (ORDER BY y) AS rn,
                     count(*) OVER () AS k
              FROM yc, tot
            ),
            hyt AS (SELECT hy FROM ystep WHERE rn = k)
            SELECT n,
              floor(hy * 1e6) / 1e6 AS h_y_q6,
              floor(hc * 1e6) / 1e6 AS h_cond_q6,
              CASE WHEN hy > 0 THEN
                floor((hy - hc) / hy * 1e6) / 1e6
              END AS theil_u_q6
            FROM hcond, hyt
        """,
        "q_jackknife": """
            WITH base AS (
              SELECT CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS v,
                     source AS g
              FROM documents
              WHERE n_chars IS NOT NULL AND source IS NOT NULL
            ),
            per AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g
              FROM base GROUP BY g
            ),
            tot AS (
              SELECT sum(n_g)::BIGINT AS n, sum(s_g)::BIGINT AS s
              FROM per
            ),
            th AS (
              SELECT g, n_g, s_g, n, s,
                     (s - s_g)::DOUBLE / (n - n_g)::DOUBLE AS theta
              FROM per, tot
            ),
            stepped AS (
              SELECT n, s,
                     sum(theta) OVER w AS st,
                     sum(theta * theta) OVER w AS st2,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS gg,
                     max(CASE WHEN n_g = n THEN 1 ELSE 0 END) OVER ()
                       AS whole
              FROM th
              WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            last AS (SELECT * FROM stepped WHERE rn = gg)
            SELECT n, gg::BIGINT AS g,
              floor(s::DOUBLE / n::DOUBLE / 1.0 * 1e6) / 1e6 AS mean_q6,
              CASE WHEN gg > 1 AND whole = 0
                   AND ((gg::DOUBLE - 1.0) / gg::DOUBLE
                        * (st2 - st * st / gg::DOUBLE)) >= 0 THEN
                floor(sqrt((gg::DOUBLE - 1.0) / gg::DOUBLE
                           * (st2 - st * st / gg::DOUBLE))
                      / 1.0 * 1e6) / 1e6
              END AS se_q6
            FROM last
        """,
        "q_wilson": """
            WITH agg AS (
              SELECT source, count(*)::BIGINT AS n,
                     sum(CASE WHEN n_chars < 500 THEN 1 ELSE 0
                         END)::BIGINT AS successes
              FROM documents GROUP BY source
            ),
            t AS (
              SELECT source, n, successes,
                successes::DOUBLE / n::DOUBLE AS p,
                1.0 + 3.8415999999999997 / n::DOUBLE AS denom
              FROM agg
            ),
            f AS (
              SELECT source, n, successes, p,
                (p + 3.8415999999999997 / (2.0 * n::DOUBLE)) / denom
                  AS center,
                1.96 / denom * sqrt(p * (1.0 - p) / n::DOUBLE
                  + 3.8415999999999997
                    / (4.0 * n::DOUBLE * n::DOUBLE)) AS half
              FROM t
            )
            SELECT source, n, successes,
              floor(p * 1e6) / 1e6 AS p_q6,
              floor(greatest(center - half, 0.0) * 1e6) / 1e6 AS lo_q6,
              floor(least(center + half, 1.0) * 1e6) / 1e6 AS hi_q6
            FROM f
        """,
        "q_rake": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id, p, t[p] AS w,
                     CASE WHEN t[p] IN
                       ('a', 'the', 'of', 'and', 'to', 'in')
                     THEN 1 ELSE 0 END AS stop
              FROM d, generate_series(1, 512) g(p)
              WHERE p <= len(t)
            ),
            runs AS (
              SELECT doc_id, p, w, stop,
                     sum(stop) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
              FROM pos
            ),
            ph AS (
              SELECT list(w ORDER BY p) AS ws
              FROM runs WHERE stop = 0 GROUP BY doc_id, run
            ),
            ph2 AS (
              SELECT array_to_string(ws, ' ') AS phrase, ws,
                     len(ws)::INTEGER AS n_words
              FROM ph WHERE len(ws) BETWEEN 1 AND 4
            ),
            words AS (
              SELECT word,
                     CAST(floor(sum(n_words)::DOUBLE / count(*)::DOUBLE
                          * 1e6) AS BIGINT) AS wscore
              FROM (SELECT unnest(ws) AS word, n_words FROM ph2)
              GROUP BY word
            ),
            scored AS (
              SELECT phrase, n_words, count(*)::BIGINT AS nrows,
                     sum(wscore)::BIGINT AS total
              FROM (
                SELECT phrase, n_words, unnest(ws) AS word FROM ph2
              ) JOIN words USING (word)
              GROUP BY phrase, n_words
            ),
            fin AS (
              SELECT phrase, n_words,
                     CAST(nrows::DOUBLE / n_words::DOUBLE AS BIGINT)
                       AS occurrences,
                     CAST(total::DOUBLE
                          / CAST(nrows::DOUBLE / n_words::DOUBLE
                                 AS BIGINT)::DOUBLE AS BIGINT)
                       AS score_i
              FROM scored
            )
            SELECT phrase, n_words, occurrences,
                   score_i::DOUBLE / 1e6 AS score_q6,
                   rank::INTEGER AS rank
            FROM (
              SELECT phrase, n_words, occurrences, score_i,
                     row_number() OVER (ORDER BY score_i DESC,
                       occurrences DESC, phrase ASC) AS rank
              FROM fin
            ) WHERE rank <= 15
        """,
        "q_cuped": """
            WITH pu AS (
              SELECT user_id,
                sum(CASE WHEN event_id % 2 = 0
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS x,
                sum(CASE WHEN event_id % 2 = 1
                         THEN CAST(round(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS y,
                CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id
            ),
            gm AS (SELECT min(g) AS ga FROM pu),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                  AS sxx,
                sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS syy,
                sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                  AS sxy,
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN x ELSE 0 END)::BIGINT AS sx_a,
                sum(CASE WHEN g = ga THEN 0 ELSE x END)::BIGINT AS sx_b,
                sum(CASE WHEN g = ga THEN y ELSE 0 END)::BIGINT AS sy_a,
                sum(CASE WHEN g = ga THEN 0 ELSE y END)::BIGINT AS sy_b
              FROM pu, gm
            ),
            fin AS (
              SELECT n, n_a, n_b, sx_a, sx_b, sy_a, sy_b,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cov_n,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
                  AS varx_n,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS vary_n,
                sx::DOUBLE / n::DOUBLE AS mx
              FROM agg
            )
            SELECT n_a, n_b,
              floor(sy_a::DOUBLE / n_a::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_a_q6,
              floor(sy_b::DOUBLE / n_b::DOUBLE / 1.0 * 1e6) / 1e6
                AS mean_b_q6,
              CASE WHEN varx_n > 0 THEN
                floor((sy_a::DOUBLE / n_a::DOUBLE
                       - (cov_n / varx_n)
                         * (sx_a::DOUBLE / n_a::DOUBLE - mx))
                      / 1.0 * 1e6) / 1e6 END AS adj_a_q6,
              CASE WHEN varx_n > 0 THEN
                floor((sy_b::DOUBLE / n_b::DOUBLE
                       - (cov_n / varx_n)
                         * (sx_b::DOUBLE / n_b::DOUBLE - mx))
                      / 1.0 * 1e6) / 1e6 END AS adj_b_q6,
              CASE WHEN varx_n > 0 THEN
                floor(cov_n / varx_n * 1e6) / 1e6 END AS theta_q6,
              CASE WHEN varx_n > 0 AND vary_n > 0 THEN
                floor(cov_n * cov_n / (varx_n * vary_n) * 1e6) / 1e6
              END AS rho2_q6
            FROM fin
        """,
        "q_off_policy": """
            WITH base AS (
              SELECT
                CAST(round(value * 100, 0) AS BIGINT) AS r,
                CASE WHEN event_type =
                       (CASE WHEN user_id % 2 = 0 THEN 'purchase'
                             ELSE 'click' END)
                     THEN 1 ELSE 0 END AS m,
                25200 // ((CAST(('0x' || substring(
                    md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 9) + 1) AS w
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(m)::BIGINT AS n_match,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS ww,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))
                         * CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS s,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))
                         * CAST(m * w AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS w2
              FROM base
            )
            SELECT n, n_match,
              floor(s::DOUBLE / 2520.0 / n::DOUBLE / 100.0 * 1e6) / 1e6
                AS ips_q6,
              CASE WHEN n_match > 0 THEN
                floor(s::DOUBLE / ww::DOUBLE / 100.0 * 1e6) / 1e6
              END AS snips_q6,
              CASE WHEN n_match > 0 THEN
                floor(ww::DOUBLE * ww::DOUBLE / w2::DOUBLE * 1e6) / 1e6
              END AS ess_q6
            FROM agg
        """,
        "q_label_prop": _lpa_unrolled_sql(rounds=3),
        "q_hill_tail": """
            WITH w AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (SELECT word, count(*)::BIGINT AS f FROM w GROUP BY word),
            base AS (
              SELECT CAST(round(CAST(f AS DOUBLE) * 1, 0) AS BIGINT) AS v
              FROM wc
              WHERE CAST(round(CAST(f AS DOUBLE) * 1, 0) AS BIGINT) > 0
            ),
            cnt AS (SELECT v, count(*)::BIGINT AS c FROM base GROUP BY v),
            reach AS (
              SELECT v, c, sum(c) OVER (ORDER BY v DESC ROWS BETWEEN
                UNBOUNDED PRECEDING AND CURRENT ROW) AS ge
              FROM cnt
            ),
            topk AS (
              SELECT v, least(c, 100 - (ge - c)) AS m FROM reach
              WHERE least(c, 100 - (ge - c)) > 0
            ),
            stepped AS (
              SELECT sum(m::DOUBLE * ln(v::DOUBLE)) OVER (ORDER BY v DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS s,
                     sum(m) OVER () AS k_eff,
                     row_number() OVER (ORDER BY v DESC) AS rn,
                     count(*) OVER () AS nr
              FROM topk
            ),
            ls AS (SELECT s, k_eff FROM stepped WHERE rn = nr),
            xr AS (SELECT max(v) AS xrv FROM reach WHERE ge >= 101),
            tt AS (SELECT count(*)::BIGINT AS n FROM base)
            SELECT n, k_eff::BIGINT AS k, xrv::DOUBLE / 1.0 AS xref,
              CASE WHEN (s / k_eff::DOUBLE - ln(xrv::DOUBLE)) > 0 THEN
                floor(1.0 / (s / k_eff::DOUBLE - ln(xrv::DOUBLE)) * 1e6)
                  / 1e6
              END AS alpha_q6
            FROM ls, xr, tt
        """,
        "q_naive_bayes": """
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents WHERE lang IS NOT NULL
            ),
            lw AS (
              SELECT lang AS label, word, count(*)::BIGINT AS c
              FROM toks GROUP BY label, word
            ),
            lt AS (
              SELECT lang AS label, count(*)::BIGINT AS t
              FROM toks GROUP BY label
            ),
            vv AS (SELECT count(DISTINCT word)::BIGINT AS v FROM toks),
            dn AS (
              SELECT lang AS label, count(*)::BIGINT AS dnn
              FROM documents WHERE lang IS NOT NULL GROUP BY label
            ),
            dd AS (SELECT sum(dnn)::BIGINT AS d FROM dn),
            wm AS (
              SELECT word, lw.label,
                CAST(floor(ln((c::DOUBLE + 1.0)
                              / (t::DOUBLE + 1.0 * v::DOUBLE)) * 1e6)
                     AS BIGINT) AS lp_q
              FROM lw JOIN lt ON lw.label = lt.label, vv
            ),
            lm AS (
              SELECT lt.label,
                CAST(floor(ln(dnn::DOUBLE / d::DOUBLE) * 1e6)
                     AS BIGINT) AS prior_q,
                CAST(floor(ln(1.0 / (t::DOUBLE + 1.0 * v::DOUBLE)) * 1e6)
                     AS BIGINT) AS oov_q
              FROM lt JOIN dn ON lt.label = dn.label, vv, dd
            ),
            fan AS (
              SELECT t.doc_id AS id, t.lang, t.word,
                     lm.label, lm.prior_q, lm.oov_q
              FROM toks t, lm
            ),
            scored AS (
              SELECT fan.id, fan.lang, fan.label,
                     sum(coalesce(wm.lp_q, fan.oov_q)) + max(fan.prior_q)
                       AS score_q
              FROM fan LEFT JOIN wm
                ON fan.word = wm.word AND fan.label = wm.label
              GROUP BY fan.id, fan.lang, fan.label
            ),
            best AS (
              SELECT id, lang, label AS pred FROM (
                SELECT id, lang, label,
                       row_number() OVER (
                         PARTITION BY id
                         ORDER BY score_q DESC, label ASC) AS rn
                FROM scored
              ) WHERE rn = 1
            )
            SELECT lang, pred, count(*)::BIGINT AS n
            FROM best GROUP BY lang, pred
        """,
        "q_energy_distance": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            cnt AS (
              SELECT v,
                     sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS ca,
                     sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS cb
              FROM base, gm GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
              FROM cnt
            ),
            cum AS (
              SELECT v - lag(v) OVER (ORDER BY v) AS gap,
                     sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - ca AS ka,
                     sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - cb AS kb
              FROM cnt
            ),
            agg AS (
              SELECT
                sum(CAST(gap AS DECIMAL(38,0))
                    * (CAST(ka * (n_b - kb) AS DECIMAL(38,0))
                       + CAST(kb * (n_a - ka) AS DECIMAL(38,0)))) AS sxy,
                sum(CAST(gap AS DECIMAL(38,0))
                    * CAST(ka * (n_a - ka) AS DECIMAL(38,0))
                    * CAST(2 AS DECIMAL(38,0))) AS sxx,
                sum(CAST(gap AS DECIMAL(38,0))
                    * CAST(kb * (n_b - kb) AS DECIMAL(38,0))
                    * CAST(2 AS DECIMAL(38,0))) AS syy,
                max(n_a) AS n_a, max(n_b) AS n_b
              FROM cum, tot WHERE gap IS NOT NULL
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                floor((2.0 * sxy::DOUBLE
                         / (n_a::DOUBLE * n_b::DOUBLE)
                       - sxx::DOUBLE / (n_a::DOUBLE * n_a::DOUBLE)
                       - syy::DOUBLE / (n_b::DOUBLE * n_b::DOUBLE))
                      / 100.0 * 1e6) / 1e6
              END AS d2_q6
            FROM agg
        """,
        "q_cvm": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            cnt AS (
              SELECT v,
                     sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS ca,
                     sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS cb
              FROM base, gm GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b
              FROM cnt
            ),
            cum AS (
              SELECT ca + cb AS c,
                     sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS ka,
                     sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS kb
              FROM cnt
            ),
            agg AS (
              SELECT sum(CAST(c AS DECIMAL(38,0))
                         * CAST(n_b * ka - n_a * kb AS DECIMAL(38,0))
                         * CAST(n_b * ka - n_a * kb AS DECIMAL(38,0)))
                       AS u,
                     max(n_a) AS n_a, max(n_b) AS n_b
              FROM cum, tot
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 0 AND n_b > 0 THEN
                floor(u::DOUBLE
                      / (n_a::DOUBLE * n_b::DOUBLE
                         * (n_a::DOUBLE + n_b::DOUBLE)
                         * (n_a::DOUBLE + n_b::DOUBLE))
                      * 1e6) / 1e6
              END AS t_q6
            FROM agg
        """,
        "q_tukey": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(event_type AS VARCHAR) AS g
              FROM events
              WHERE value IS NOT NULL AND event_type IS NOT NULL
            ),
            pc AS (
              SELECT g, count(*)::BIGINT AS n_g, sum(v)::BIGINT AS s_g,
                     sum(CAST(v AS DECIMAL(38,0))
                         * CAST(v AS DECIMAL(38,0))) AS q_g
              FROM base GROUP BY g
            ),
            stepped AS (
              SELECT sum(s_g::DOUBLE * s_g::DOUBLE / n_g::DOUBLE) OVER (
                       ORDER BY g
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) AS sb,
                     row_number() OVER (ORDER BY g) AS rn,
                     count(*) OVER () AS kk
              FROM pc
            ),
            sf AS (
              SELECT sb, kk::BIGINT AS kk FROM stepped WHERE rn = kk
            ),
            tt AS (
              SELECT sum(n_g)::BIGINT AS n,
                     CAST(sum(q_g) AS DECIMAL(38,0)) AS q
              FROM pc
            ),
            msw AS (
              SELECT n, kk,
                     (q::DOUBLE - sb) / (n::DOUBLE - kk::DOUBLE) AS msw
              FROM tt, sf
            )
            SELECT a.g AS g_a, b.g AS g_b,
              a.n_g AS n_a, b.n_g AS n_b,
              floor(a.s_g::DOUBLE / a.n_g::DOUBLE / 100.0 * 1e6) / 1e6
                AS mean_a_q6,
              floor(b.s_g::DOUBLE / b.n_g::DOUBLE / 100.0 * 1e6) / 1e6
                AS mean_b_q6,
              floor((a.s_g::DOUBLE / a.n_g::DOUBLE
                     - b.s_g::DOUBLE / b.n_g::DOUBLE) / 100.0 * 1e6) / 1e6
                AS diff_q6,
              CASE WHEN msw > 0 AND n > kk THEN
                floor(abs(a.s_g::DOUBLE / a.n_g::DOUBLE
                          - b.s_g::DOUBLE / b.n_g::DOUBLE)
                      / sqrt(msw / 2.0
                             * (1.0 / a.n_g::DOUBLE
                                + 1.0 / b.n_g::DOUBLE))
                      * 1e6) / 1e6
              END AS q_q6
            FROM pc a, pc b, msw
            WHERE a.g < b.g
        """,
        "q_median_survival": (
            "WITH km AS (" + _KM_SQL + "), "
            "half AS (SELECT min(duration) AS median_duration FROM km "
            "         WHERE survival_q <= 0.5), "
            "tot AS (SELECT count(*)::BIGINT AS n_times, "
            "        sum(d_events + c_censored)::BIGINT AS n_obs FROM km) "
            "SELECT n_times, n_obs, median_duration FROM tot, half"
        ),
        "q_correlogram": """
            WITH q AS (
              SELECT user_id, ts, event_id,
                     CAST(round(value * 100) AS BIGINT) AS x
              FROM events
            ),
            leads AS (
              SELECT user_id, x,
                     lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
                     lead(x, 3) OVER w AS y3, lead(x, 4) OVER w AS y4
              FROM q
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            pairs AS (
              SELECT user_id, u.lag AS lag, u.x AS x, u.y AS y
              FROM leads, unnest([
                {'lag': 1, 'x': x, 'y': y1},
                {'lag': 2, 'x': x, 'y': y2},
                {'lag': 3, 'x': x, 'y': y3},
                {'lag': 4, 'x': x, 'y': y4}
              ]) AS t(u)
              WHERE u.y IS NOT NULL
            ),
            s AS (
              SELECT user_id, lag,
                     count(*)::BIGINT AS n_pairs,
                     sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                     sum(x * x)::BIGINT AS sxx,
                     sum(y * y)::BIGINT AS syy,
                     sum(x * y)::BIGINT AS sxy
              FROM pairs GROUP BY user_id, lag
            )
            SELECT user_id, lag, n_pairs,
                   CASE WHEN (n_pairs * sxx - sx * sx) > 0
                         AND (n_pairs * syy - sy * sy) > 0 THEN
                     floor((n_pairs * sxy - sx * sy)::DOUBLE
                           / (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                              * sqrt((n_pairs * syy - sy * sy)::DOUBLE))
                           * 1e6) / 1e6
                   END AS r
            FROM s
        """,
        "q_mom_growth": """
            WITH monthly AS (
              SELECT o_orderpriority AS priority,
                     date_trunc('month', o_orderdate)::DATE AS month,
                     sum(CAST(round(o_totalprice * 100) AS BIGINT))
                       ::BIGINT AS rev_cents
              FROM orders GROUP BY 1, 2
            )
            SELECT priority, month, rev_cents,
                   CASE WHEN lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month
                        ) > 0 THEN
                     floor(
                       (rev_cents - lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month))
                       / lag(rev_cents) OVER (
                          PARTITION BY priority ORDER BY month
                        )::DOUBLE * 1e6) / 1e6
                   END AS mom_growth
            FROM monthly
        """,
        "q_turn_churn": """
            WITH t AS (
              SELECT source, doc_id,
                     list_distinct(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS toks
              FROM documents
            ),
            w AS (
              SELECT source, doc_id, toks,
                     lag(toks) OVER (
                       PARTITION BY source ORDER BY doc_id
                     ) AS prev
              FROM t
            ),
            j AS (
              SELECT source, doc_id, len(toks)::INT AS n_tokens,
                     round(len(list_intersect(toks, prev))
                           / len(list_distinct(toks || prev))::DOUBLE, 4)
                       AS prev_jaccard
              FROM w
              WHERE prev IS NOT NULL
                AND len(list_distinct(toks || prev)) > 0
            )
            SELECT * FROM j WHERE prev_jaccard >= 0.8
        """,
        "q_leakage_split": f"""
            WITH RECURSIVE {_SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS node, least(a, min(b))::BIGINT AS component
              FROM reach GROUP BY a
            ),
            assigned AS (
              SELECT d.doc_id,
                     coalesce(c.component, d.doc_id)::BIGINT AS group_key
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
            ),
            s AS (
              SELECT *,
                     CAST(('0x' || substring(
                       md5(group_key::VARCHAR), 1, 15)) AS BIGINT)
                       % 100 AS h
              FROM assigned
            )
            SELECT CASE WHEN h < 10 THEN 'test'
                        WHEN h < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   count(*)::BIGINT AS n_docs,
                   count(DISTINCT group_key)::BIGINT AS n_groups,
                   sum(doc_id)::BIGINT AS id_sum
            FROM s GROUP BY 1
        """,
        "q_good_turing": """
            WITH grams AS (
              SELECT unnest(list_transform(
                       range(1, greatest(len(w) - 1, 0) + 1),
                       i -> w[i] || ' ' || w[i+1])) AS gram
              FROM (SELECT list_filter(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      x -> length(x) > 0) AS w
                    FROM documents)
            ),
            counts AS (SELECT gram, count(*) AS r FROM grams GROUP BY gram),
            fof AS (SELECT r, count(*)::BIGINT AS n_r FROM counts GROUP BY r)
            SELECT f.r::BIGINT AS r, f.n_r,
                   round((f.r + 1) * coalesce(g.n_r, 0) / f.r_div, 6)
                     AS r_star
            FROM (SELECT r, n_r, n_r::DOUBLE AS r_div FROM fof) f
            LEFT JOIN fof g ON g.r = f.r + 1
        """,
        "q_margin_mining": """
            WITH l AS (
              SELECT vec_id AS id, embedding AS v FROM embeddings
              WHERE vec_id % 2 = 0
            ),
            r AS (
              SELECT vec_id AS id, embedding AS v FROM embeddings
              WHERE vec_id % 2 = 1
            ),
            sc AS (
              SELECT l.id AS lid, r.id AS rid,
                round(
                  list_aggregate(list_transform(range(1, len(l.v) + 1),
                      i -> l.v[i]::DOUBLE * r.v[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(
                        range(1, len(l.v) + 1),
                        i -> l.v[i]::DOUBLE * l.v[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(
                        range(1, len(r.v) + 1),
                        i -> r.v[i]::DOUBLE * r.v[i]::DOUBLE), 'sum'))),
                  6) AS cos_sim
              FROM l, r
            ),
            l2r AS (
              SELECT lid, rid, cos_sim FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY lid ORDER BY cos_sim DESC, rid ASC
                ) AS rk FROM sc
              ) WHERE rk <= 4
            ),
            r2l AS (
              SELECT lid, rid, cos_sim FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY rid ORDER BY cos_sim DESC, lid ASC
                ) AS rk FROM sc
              ) WHERE rk <= 4
            ),
            lm AS (SELECT lid, avg(cos_sim) AS lm FROM l2r GROUP BY lid),
            rm AS (SELECT rid, avg(cos_sim) AS rm FROM r2l GROUP BY rid),
            m AS (
              SELECT l2r.lid, l2r.rid, l2r.cos_sim,
                     round(l2r.cos_sim / ((lm.lm + rm.rm) / 2), 4)
                       AS margin
              FROM l2r JOIN lm USING (lid) JOIN rm USING (rid)
            )
            SELECT lid AS left_id, rid AS right_id, cos_sim, margin
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY lid ORDER BY margin DESC, rid ASC
              ) AS rk FROM m
            ) WHERE rk = 1
        """,
        "q_jaro_linkage": """
            WITH names AS (
              SELECT DISTINCT lower(trim(p_name)) AS nm FROM part
              WHERE length(lower(trim(p_name))) > 0
            ),
            blocked AS (
              SELECT nm, substring(nm, 1, 2) AS bk, length(nm) AS ln
              FROM names
            ),
            kept AS (
              SELECT b.* FROM blocked b
              JOIN (SELECT bk FROM blocked GROUP BY bk
                    HAVING count(*) <= 500) g USING (bk)
            )
            SELECT a.nm AS name_a, b.nm AS name_b,
                   round(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
            FROM kept a JOIN kept b ON a.bk = b.bk AND a.nm < b.nm
              AND abs(a.ln - b.ln) <= 2
            WHERE round(jaro_winkler_similarity(a.nm, b.nm), 6) >= 0.85
        """,
        "q_keyword_profile": f"""
            WITH kw(k) AS (VALUES {_KW_VALUES_SQL}),
            hits AS (
              SELECT k AS keyword,
                     (length(text) - length(replace(text, k, '')))
                       // length(k) AS h
              FROM documents, kw
            )
            SELECT keyword, count(*)::BIGINT AS n_docs,
                   sum(h)::BIGINT AS n_hits
            FROM hits WHERE h > 0 GROUP BY keyword
        """,
        "q_event_loops": """
            WITH o AS (
              SELECT user_id, event_type, ts,
                     row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS rn,
                     row_number() OVER (
                       PARTITION BY user_id, event_type
                       ORDER BY ts, event_id
                     ) AS rk
              FROM events
            )
            SELECT user_id, event_type, count(*)::INTEGER AS run_len,
                   min(ts) AS start_ts, max(ts) AS end_ts
            FROM o GROUP BY user_id, event_type, rn - rk
            HAVING count(*) >= 3
        """,
        "q_ngram_containment": f"""
            WITH {_SHINGLES_CTE},
            shf AS (
              SELECT sh.id, sh.shingle FROM sh
              JOIN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000) rare USING (shingle)
            ),
            sizes AS (SELECT id, count(*) AS n_sh FROM shf GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*)::DOUBLE AS common
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(common / least(s1.n_sh, s2.n_sh), 4) AS containment
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE round(common / least(s1.n_sh, s2.n_sh), 4) >= 0.6
        """,
        "q_reliability": """
            WITH cells AS (
              SELECT user_id AS s, event_type AS i,
                     sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT
                       AS x
              FROM events WHERE value IS NOT NULL
              GROUP BY user_id, event_type
            ),
            per_item AS (
              SELECT i, sum(x)::BIGINT AS ci,
                     sum(CAST(x AS DECIMAL(38,0))
                         * CAST(x AS DECIMAL(38,0))) AS ci2
              FROM cells GROUP BY i
            ),
            per_subj AS (
              SELECT s, sum(x)::BIGINT AS ts FROM cells GROUP BY s
            ),
            nn AS (
              SELECT count(*)::BIGINT AS n_subjects,
                     sum(CAST(ts AS DECIMAL(38,0))
                         * CAST(ts AS DECIMAL(38,0))) AS st2
              FROM per_subj
            ),
            kk AS (
              SELECT count(*)::BIGINT AS k_items,
                     sum(CAST(ci AS DECIMAL(38,0))
                         * CAST(ci AS DECIMAL(38,0))) AS sc2,
                     sum(ci2) AS sx2,
                     sum(ci)::BIGINT AS g
              FROM per_item
            ),
            f AS (
              SELECT n_subjects, k_items,
                n_subjects::DOUBLE AS n, k_items::DOUBLE AS k,
                g::DOUBLE AS g, sx2::DOUBLE AS sx2,
                st2::DOUBLE AS st2, sc2::DOUBLE AS sc2
              FROM nn, kk
            ),
            m AS (
              SELECT n_subjects, k_items, n, k,
                sx2 - g * g / (n * k) AS ss_tot,
                st2 / k - g * g / (n * k) AS ss_rows,
                sc2 / n - g * g / (n * k) AS ss_cols,
                sx2 - sc2 / n AS sum_var_i,
                st2 - g * g / n AS var_t
              FROM f
            ),
            m2 AS (
              SELECT n_subjects, k_items, n, k, sum_var_i, var_t,
                ss_rows / (n - 1.0) AS msr,
                ss_cols / (k - 1.0) AS msc,
                (ss_tot - ss_rows - ss_cols)
                  / ((n - 1.0) * (k - 1.0)) AS mse
              FROM m
            )
            SELECT n_subjects, k_items,
              CASE WHEN var_t > 0 THEN
                floor(k / (k - 1.0) * (1.0 - sum_var_i / var_t) * 1e6)
                  / 1e6
              END AS alpha_q6,
              floor((msr - mse)
                    / (msr + (k - 1.0) * mse + k * (msc - mse) / n)
                    * 1e6) / 1e6 AS icc2_q6
            FROM m2
        """,
        "q_agreement": """
            WITH d AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS x,
                CAST(round(6.0 * len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0))::DOUBLE * 1, 0) AS BIGINT)
                  AS y
              FROM documents
            ),
            agg AS (
              SELECT source, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS syy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS sxy
              FROM d GROUP BY source
            ),
            f AS (
              SELECT source, n,
                n::DOUBLE AS nd, sx::DOUBLE AS sxd, sy::DOUBLE AS syd,
                sxx::DOUBLE AS sxxd, syy::DOUBLE AS syyd,
                sxy::DOUBLE AS sxyd
              FROM agg
            ),
            c AS (
              SELECT source, n, nd,
                sxxd / nd - (sxd / nd) * (sxd / nd) AS cxx,
                syyd / nd - (syd / nd) * (syd / nd) AS cyy,
                sxyd / nd - (sxd / nd) * (syd / nd) AS cxy,
                sxd / nd - syd / nd AS dm,
                sxd - syd AS sd_,
                sxxd - 2.0 * sxyd + syyd AS sdd
              FROM f
            ),
            b AS (
              SELECT source, n, nd, cxx, cyy, cxy, dm,
                sd_ / nd AS bias,
                1.96 * sqrt((sdd - sd_ * sd_ / nd) / (nd - 1.0))
                  AS half
              FROM c
            )
            SELECT source, n,
              floor(2.0 * cxy / (cxx + cyy + dm * dm) * 1e6) / 1e6
                AS ccc_q6,
              floor(cxy / sqrt(cxx * cyy) * 1e6) / 1e6 AS pearson_q6,
              floor(bias / 1.0 * 1e6) / 1e6 AS bias_q6,
              floor((bias - half) / 1.0 * 1e6) / 1e6 AS loa_lo_q6,
              floor((bias + half) / 1.0 * 1e6) / 1e6 AS loa_hi_q6
            FROM b
        """,
        "q_lexical_richness": """
            WITH toks AS (
              SELECT source, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tc AS (
              SELECT source, t, count(*)::BIGINT AS f
              FROM toks GROUP BY source, t
            ),
            agg AS (
              SELECT source,
                sum(f)::BIGINT AS n_tokens,
                count(*)::BIGINT AS v_types,
                sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
                sum(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS v2,
                sum(f * f)::BIGINT AS s2
              FROM tc GROUP BY source
            ),
            d AS (
              SELECT source, n_tokens, v_types, v1, v2,
                n_tokens::DOUBLE AS n, v_types::DOUBLE AS v,
                v1::DOUBLE AS v1d, v2::DOUBLE AS v2d, s2::DOUBLE AS s2d
              FROM agg
            )
            SELECT source, n_tokens, v_types, v1, v2,
              floor(1e4 * (s2d - n) / (n * n) * 1e6) / 1e6
                AS yules_k_q6,
              floor(v / sqrt(n) * 1e6) / 1e6 AS guiraud_q6,
              floor(ln(v) / ln(n) * 1e6) / 1e6 AS herdan_q6,
              CASE WHEN v1 < v_types THEN
                floor(100.0 * ln(n) / (1.0 - v1d / v) * 1e6) / 1e6
              END AS honore_q6,
              floor(v2d / v * 1e6) / 1e6 AS sichel_q6,
              floor((s2d - n) / (n * (n - 1.0)) * 1e6) / 1e6
                AS simpson_q6,
              floor((v + v1d * (v1d - 1.0) / (2.0 * (v2d + 1.0)))
                    * 1e6) / 1e6 AS chao1_q6
            FROM d
        """,
        "q_ljung_box": """
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            l AS (
              SELECT g, x,
                lag(x, 1) OVER w AS l1, lag(x, 2) OVER w AS l2,
                lag(x, 3) OVER w AS l3, lag(x, 4) OVER w AS l4,
                lag(x, 5) OVER w AS l5
              FROM s WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(CASE WHEN l1 IS NOT NULL THEN x * l1 END)::BIGINT AS c1,
                sum(CASE WHEN l1 IS NOT NULL THEN x END)::BIGINT AS h1,
                sum(l1)::BIGINT AS t1,
                sum(CASE WHEN l2 IS NOT NULL THEN x * l2 END)::BIGINT AS c2,
                sum(CASE WHEN l2 IS NOT NULL THEN x END)::BIGINT AS h2,
                sum(l2)::BIGINT AS t2,
                sum(CASE WHEN l3 IS NOT NULL THEN x * l3 END)::BIGINT AS c3,
                sum(CASE WHEN l3 IS NOT NULL THEN x END)::BIGINT AS h3,
                sum(l3)::BIGINT AS t3,
                sum(CASE WHEN l4 IS NOT NULL THEN x * l4 END)::BIGINT AS c4,
                sum(CASE WHEN l4 IS NOT NULL THEN x END)::BIGINT AS h4,
                sum(l4)::BIGINT AS t4,
                sum(CASE WHEN l5 IS NOT NULL THEN x * l5 END)::BIGINT AS c5,
                sum(CASE WHEN l5 IS NOT NULL THEN x END)::BIGINT AS h5,
                sum(l5)::BIGINT AS t5
              FROM l GROUP BY g
            ),
            r AS (
              SELECT g, n, n::DOUBLE AS nd,
                sx::DOUBLE / n::DOUBLE AS xb,
                sxx::DOUBLE - n::DOUBLE * (sx::DOUBLE / n::DOUBLE)
                  * (sx::DOUBLE / n::DOUBLE) AS den,
                c1::DOUBLE AS c1d, h1::DOUBLE AS h1d, t1::DOUBLE AS t1d,
                c2::DOUBLE AS c2d, h2::DOUBLE AS h2d, t2::DOUBLE AS t2d,
                c3::DOUBLE AS c3d, h3::DOUBLE AS h3d, t3::DOUBLE AS t3d,
                c4::DOUBLE AS c4d, h4::DOUBLE AS h4d, t4::DOUBLE AS t4d,
                c5::DOUBLE AS c5d, h5::DOUBLE AS h5d, t5::DOUBLE AS t5d
              FROM a
            ),
            rr AS (
              SELECT g, n, nd,
                (c1d - xb * (h1d + t1d) + (nd - 1.0) * xb * xb) / den AS r1,
                (c2d - xb * (h2d + t2d) + (nd - 2.0) * xb * xb) / den AS r2,
                (c3d - xb * (h3d + t3d) + (nd - 3.0) * xb * xb) / den AS r3,
                (c4d - xb * (h4d + t4d) + (nd - 4.0) * xb * xb) / den AS r4,
                (c5d - xb * (h5d + t5d) + (nd - 5.0) * xb * xb) / den AS r5
              FROM r
            ),
            e AS (
              SELECT g, n, nd, r1, r2, r3, r4, r5,
                r1 * r1 / (nd - 1.0) AS e1,
                r2 * r2 / (nd - 2.0) AS e2,
                r3 * r3 / (nd - 3.0) AS e3,
                r4 * r4 / (nd - 4.0) AS e4,
                r5 * r5 / (nd - 5.0) AS e5
              FROM rr
            )
            SELECT g AS event_type, n, 1 AS lag,
              floor(r1 * 1e6) / 1e6 AS r_q6,
              floor(nd * (nd + 2.0) * (e1) * 1e6) / 1e6 AS q_stat_q6
            FROM e
            UNION ALL
            SELECT g, n, 2,
              floor(r2 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 3,
              floor(r3 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 4,
              floor(r4 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3 + e4) * 1e6) / 1e6
            FROM e
            UNION ALL
            SELECT g, n, 5,
              floor(r5 * 1e6) / 1e6,
              floor(nd * (nd + 2.0) * (e1 + e2 + e3 + e4 + e5) * 1e6)
                / 1e6
            FROM e
        """,
        "q_kpss": """
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            p AS (
              SELECT g, x,
                sum(x) OVER (PARTITION BY g ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cx,
                row_number() OVER (PARTITION BY g
                                   ORDER BY ts, event_id) AS t
              FROM s
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(cx * cx) AS scx2, sum(cx * t) AS scxt,
                sum(t * t) AS st2
              FROM p GROUP BY g
            ),
            f AS (
              SELECT g, n, n::DOUBLE AS nd, sx::DOUBLE AS sxd,
                sxx::DOUBLE AS sxxd, scx2::DOUBLE AS scx2d,
                scxt::DOUBLE AS scxtd, st2::DOUBLE AS st2d
              FROM a
            )
            SELECT g AS event_type, n,
              CASE WHEN (sxxd - sxd * (sxd / nd)) / nd > 0 THEN
                floor((scx2d - 2.0 * (sxd / nd) * scxtd
                       + (sxd / nd) * (sxd / nd) * st2d)
                      / (nd * nd * ((sxxd - sxd * (sxd / nd)) / nd))
                      * 1e6) / 1e6
              END AS kpss_q6
            FROM f
        """,
        "q_variance_ratio": """
            WITH s AS (
              SELECT event_type AS g,
                     CAST(round(value * 100, 0) AS BIGINT) AS x,
                     ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            p AS (
              SELECT g, x,
                sum(x) OVER (PARTITION BY g ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cx,
                row_number() OVER (PARTITION BY g
                                   ORDER BY ts, event_id) AS t
              FROM s
            ),
            p2 AS (
              SELECT g, x, t,
                cx - coalesce(lag(cx, 5) OVER (PARTITION BY g
                                               ORDER BY t), 0) AS y
              FROM p
            ),
            a AS (
              SELECT g, count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(x * x)::BIGINT AS sxx,
                sum(CASE WHEN t >= 5 THEN y END)::BIGINT AS sy,
                sum(CASE WHEN t >= 5 THEN y * y END)::BIGINT AS syy,
                sum(CASE WHEN t >= 5 THEN 1 ELSE 0 END)::BIGINT
                  AS n_windows
              FROM p2 GROUP BY g
            ),
            f AS (
              SELECT g, n, n_windows,
                sxx::DOUBLE / n::DOUBLE
                  - (sx::DOUBLE / n::DOUBLE)
                    * (sx::DOUBLE / n::DOUBLE) AS var1,
                syy::DOUBLE / n_windows::DOUBLE
                  - (sy::DOUBLE / n_windows::DOUBLE)
                    * (sy::DOUBLE / n_windows::DOUBLE) AS varq
              FROM a
            )
            SELECT g AS event_type, n, n_windows,
              CASE WHEN var1 > 0 THEN
                floor(varq / (5.0 * var1) * 1e6) / 1e6
              END AS vr_q6
            FROM f
        """,
        "q_graph_profile": """
            WITH arcs AS (
              SELECT DISTINCT o_custkey AS src,
                              o_orderkey % 1500 AS dst
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            canon AS (
              SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     count(*)::BIGINT AS dirs
              FROM arcs GROUP BY least(src, dst), greatest(src, dst)
            ),
            astat AS (
              SELECT count(*)::BIGINT AS n_edges,
                     sum(dirs)::BIGINT AS n_arcs,
                     sum(CASE WHEN dirs = 2 THEN 2 ELSE 0
                         END)::BIGINT AS recip
              FROM canon
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM canon
                    UNION ALL SELECT b FROM canon)
              GROUP BY node
            ),
            dstat AS (
              SELECT count(*)::BIGINT AS n_nodes,
                     sum(d * (d - 1))::BIGINT AS wedges2,
                     max(d)::BIGINT AS max_degree
              FROM deg
            ),
            tri AS (
              SELECT count(*)::BIGINT AS t FROM (
                SELECT e1.a FROM canon e1
                JOIN canon e2 ON e2.a = e1.b
                JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b)
            )
            SELECT n_nodes, n_edges, max_degree, t AS n_triangles,
              floor(2.0 * n_edges::DOUBLE
                    / (n_nodes::DOUBLE * (n_nodes::DOUBLE - 1.0))
                    * 1e6) / 1e6 AS density_q6,
              CASE WHEN wedges2 > 0 THEN
                floor((t * 3)::DOUBLE * 2.0 / wedges2::DOUBLE * 1e6)
                  / 1e6
              END AS clustering_q6,
              floor(recip::DOUBLE / n_arcs::DOUBLE * 1e6) / 1e6
                AS reciprocity_q6
            FROM astat, dstat, tri
        """,
        "q_modularity": """
            WITH e AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            nodes AS (
              SELECT DISTINCT node
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            ),
            comm AS (SELECT node, node % 10 AS c FROM nodes),
            intra AS (
              SELECT sum(CASE WHEN ca.c = cb.c THEN 1 ELSE 0
                         END)::BIGINT AS sum_ec
              FROM e JOIN comm ca ON e.a = ca.node
                     JOIN comm cb ON e.b = cb.node
            ),
            met AS (SELECT count(*)::BIGINT AS m_edges FROM e),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY node
            ),
            dc AS (
              SELECT c, sum(d)::BIGINT AS dcv
              FROM deg JOIN comm USING (node) GROUP BY c
            ),
            ds AS (
              SELECT count(*)::BIGINT AS n_communities,
                     sum(dcv * dcv)::BIGINT AS sdc2
              FROM dc
            )
            SELECT n_communities, m_edges,
              floor((4.0 * m_edges::DOUBLE * sum_ec::DOUBLE
                     - sdc2::DOUBLE)
                    / (4.0 * m_edges::DOUBLE * m_edges::DOUBLE)
                    * 1e6) / 1e6 AS q_modularity_q6
            FROM intra, met, ds
        """,
        "q_rich_club": """
            WITH e AS (
              SELECT DISTINCT
                least(o_custkey, o_orderkey % 1500) AS a,
                greatest(o_custkey, o_orderkey % 1500) AS b
              FROM orders WHERE o_custkey <> o_orderkey % 1500
            ),
            deg AS (
              SELECT node, count(*)::BIGINT AS d
              FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
              GROUP BY node
            ),
            ee AS (
              SELECT da.d AS dda, db.d AS ddb
              FROM e JOIN deg da ON e.a = da.node
                     JOIN deg db ON e.b = db.node
            ),
            raw AS (
              SELECT 2 AS k,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 2)
                  AS n_nodes_gt_k,
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 2 AND ddb > 2) AS n_edges_within
              UNION ALL
              SELECT 4,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 4),
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 4 AND ddb > 4)
              UNION ALL
              SELECT 8,
                (SELECT count(*)::BIGINT FROM deg WHERE d > 8),
                (SELECT count(*)::BIGINT FROM ee
                 WHERE dda > 8 AND ddb > 8)
            )
            SELECT k, n_nodes_gt_k, n_edges_within,
              CASE WHEN n_nodes_gt_k >= 2 THEN
                floor(2.0 * n_edges_within::DOUBLE
                      / (n_nodes_gt_k::DOUBLE
                         * (n_nodes_gt_k::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS phi_q6
            FROM raw
        """,
        "q_rank_metrics": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            agg AS (
              SELECT query_id,
                count(*)::BIGINT AS n_ranked,
                sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_rel_total,
                sum(CASE WHEN rel > 0 AND rank <= 10 THEN 1 ELSE 0
                    END)::BIGINT AS rel_at_k,
                min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
                list([1.0 - (pow(2.0, rel) - 1.0) / 2.0,
                      ((pow(2.0, rel) - 1.0) / 2.0) / rank::DOUBLE]
                     ORDER BY rank) AS terms
              FROM judged GROUP BY query_id
            ),
            f AS (
              SELECT query_id, n_ranked, n_rel_total, rel_at_k,
                first_rel,
                list_reduce(
                  list_prepend([1.0, 0.0], terms),
                  (a, x) -> [a[1] * x[1], a[2] + a[1] * x[2]]
                ) AS acc
              FROM agg
            )
            SELECT query_id, n_ranked, n_rel_total,
              floor(rel_at_k::DOUBLE / 10.0 * 1e6) / 1e6 AS p_at_k_q6,
              CASE WHEN n_rel_total > 0 THEN
                floor(rel_at_k::DOUBLE / n_rel_total::DOUBLE * 1e6)
                  / 1e6
              END AS recall_at_k_q6,
              CASE WHEN first_rel IS NOT NULL THEN
                floor(1.0 / first_rel::DOUBLE * 1e6) / 1e6
              END AS mrr_q6,
              floor(acc[2] * 1e6) / 1e6 AS err_q6
            FROM f
        """,
        "q_ql_dirichlet": """
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            totals AS (SELECT sum(dl)::BIGINT AS c FROM base),
            tok AS (
              SELECT doc_id, dl, unnest(t) AS term FROM base
            ),
            cf AS (
              SELECT term, count(*)::BIGINT AS cf FROM tok
              WHERE term IN ('merge', 'stream', 'vector')
              GROUP BY term
            ),
            model AS (
              SELECT term, 2000.0 * (cf::DOUBLE / c::DOUBLE) AS mp
              FROM cf, totals WHERE cf > 0
            ),
            qstats AS (
              SELECT count(*)::BIGINT AS nq,
                list_reduce(
                  list_prepend(0.0, list(ln(mp) ORDER BY term)),
                  (a, x) -> a + x) AS qconst
              FROM model
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*)::BIGINT AS tf
              FROM tok WHERE term IN ('merge', 'stream', 'vector')
              GROUP BY doc_id, dl, term
            ),
            hits AS (
              SELECT doc_id, dl, count(*)::INTEGER AS n_terms_hit,
                list_reduce(
                  list_prepend(0.0,
                    list(ln(1.0 + tf::DOUBLE / mp) ORDER BY term)),
                  (a, x) -> a + x) AS hitsum
              FROM pairs JOIN model USING (term)
              GROUP BY doc_id, dl
            ),
            scored AS (
              SELECT doc_id, n_terms_hit, dl,
                qconst - nq::DOUBLE * ln(dl::DOUBLE + 2000.0)
                  + hitsum AS score
              FROM hits, qstats
            ),
            ranked AS (
              SELECT doc_id, n_terms_hit, dl, score,
                row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS rank
              FROM scored
            )
            SELECT doc_id, n_terms_hit, dl,
              floor(score * 1e6) / 1e6 AS score_q6, rank
            FROM ranked WHERE rank <= 10
        """,
        "q_inequality": """
            WITH vg AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v,
                count(*)::BIGINT AS c
              FROM documents
              WHERE CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) > 0
              GROUP BY source, v
            ),
            cells AS (
              SELECT source, v, c,
                sum(c) OVER (PARTITION BY source)::BIGINT AS n,
                sum(c * v) OVER (PARTITION BY source)::BIGINT AS x
              FROM vg
            ),
            stepped AS (
              SELECT source, n, x,
                sum(c::DOUBLE * v::DOUBLE / x::DOUBLE
                    * ln(v::DOUBLE * n::DOUBLE / x::DOUBLE))
                  OVER (PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS th,
                sum(c::DOUBLE * ln(v::DOUBLE))
                  OVER (PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sl,
                row_number() OVER (PARTITION BY source ORDER BY v)
                  AS rn,
                count(*) OVER (PARTITION BY source) AS k
              FROM cells
            )
            SELECT source, n,
              floor(th * 1e6) / 1e6 AS theil_q6,
              floor((1.0 - exp(sl / n::DOUBLE)
                     / (x::DOUBLE / n::DOUBLE)) * 1e6) / 1e6
                AS atkinson_q6
            FROM stepped WHERE rn = k
        """,
        "q_srm": """
            WITH arms AS (
              SELECT CASE WHEN user_id % 10 < 4 THEN 'a'
                          WHEN user_id % 10 < 7 THEN 'b'
                          ELSE 'c' END AS arm
              FROM events
            ),
            obs AS (
              SELECT arm, count(*)::BIGINT AS o FROM arms GROUP BY arm
            ),
            expd AS (
              SELECT * FROM (VALUES ('a', 4), ('b', 3), ('c', 3))
                t(arm, w)
            ),
            j AS (
              SELECT coalesce(obs.arm, expd.arm) AS arm,
                     coalesce(o, 0) AS o, w
              FROM obs FULL OUTER JOIN expd ON obs.arm = expd.arm
            ),
            tot AS (
              SELECT sum(CASE WHEN w IS NOT NULL THEN o END)::BIGINT
                       AS nm,
                     coalesce(sum(CASE WHEN w IS NULL THEN o END),
                              0)::BIGINT AS nu
              FROM j
            ),
            cells AS (
              SELECT arm, o, w, nm, nu FROM j, tot WHERE w IS NOT NULL
            ),
            stepped AS (
              SELECT nm, nu,
                sum((o::DOUBLE - nm::DOUBLE * w::DOUBLE / 10.0)
                    * (o::DOUBLE - nm::DOUBLE * w::DOUBLE / 10.0)
                    / (nm::DOUBLE * w::DOUBLE / 10.0))
                  OVER (ORDER BY arm ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY arm) AS rn,
                count(*) OVER () AS k
              FROM cells
            )
            SELECT nm AS n, k::BIGINT AS k_arms, nu AS n_unexpected,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM stepped WHERE rn = k
        """,
        "q_doubly_robust": """
            WITH base AS (
              SELECT
                CAST(round(value * 100, 0) AS BIGINT) AS r,
                CAST(round((user_id % 50)::DOUBLE * 100, 0) AS BIGINT)
                  AS q,
                CASE WHEN event_type =
                       (CASE WHEN user_id % 2 = 0 THEN 'purchase'
                             ELSE 'click' END)
                     THEN 1 ELSE 0 END AS m,
                25200 // ((CAST(('0x' || substring(
                    md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 9) + 1) AS w
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(m)::BIGINT AS n_match,
                CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS sq,
                CAST(sum(CAST(2520 * q + m * w * (r - q)
                              AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS s
              FROM base
            )
            SELECT n, n_match,
              floor(sq::DOUBLE / n::DOUBLE / 100.0 * 1e6) / 1e6
                AS dm_q6,
              floor(s::DOUBLE / (2520.0 * n::DOUBLE) / 100.0 * 1e6)
                / 1e6 AS dr_q6
            FROM agg
        """,
        "q_linear_cka": """
            WITH src AS (
              SELECT vec_id AS id, embedding FROM embeddings
              WHERE vec_id < 1000
            ),
            xz AS (
              SELECT id, p - 1 AS i,
                CASE WHEN p <= 64 THEN
                  CAST(round(embedding[p]::DOUBLE * 1000, 0) AS BIGINT)
                ELSE
                  CAST(round(embedding[p - 64]::DOUBLE
                             * (1.0 + (p - 64 - 1)::DOUBLE / 100.0)
                             * 1000, 0) AS BIGINT)
                END AS z
              FROM src, generate_series(1, 128) g(p)
            ),
            cells AS (
              SELECT a.i AS d1, b.i AS d2, sum(a.z * b.z)::BIGINT AS s
              FROM xz a JOIN xz b ON a.id = b.id AND a.i <= b.i
              GROUP BY a.i, b.i
            ),
            sums AS (
              SELECT i, sum(z)::BIGINT AS su FROM xz GROUP BY i
            ),
            cnt AS (SELECT count(*)::BIGINT AS n FROM src),
            cent AS (
              SELECT d1, d2, n,
                s::DOUBLE - s1.su::DOUBLE * s2.su::DOUBLE / n::DOUBLE
                  AS a,
                CASE WHEN d1 < 64 AND d2 < 64 THEN 'xx'
                     WHEN d1 >= 64 THEN 'yy' ELSE 'xy' END AS blk,
                CASE WHEN d1 = d2 OR (d1 < 64) <> (d2 < 64)
                     THEN 1.0 ELSE 2.0 END AS w
              FROM cells
              JOIN sums s1 ON cells.d1 = s1.i
              JOIN sums s2 ON cells.d2 = s2.i, cnt
            ),
            stepped AS (
              SELECT n, blk,
                sum(w * (a * a)) OVER (PARTITION BY blk
                    ORDER BY d1, d2 ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS f,
                row_number() OVER (PARTITION BY blk ORDER BY d1, d2)
                  AS rn,
                count(*) OVER (PARTITION BY blk) AS k
              FROM cent
            ),
            fr AS (
              SELECT n,
                max(CASE WHEN blk = 'xx' THEN f END) AS fxx,
                max(CASE WHEN blk = 'xy' THEN f END) AS fxy,
                max(CASE WHEN blk = 'yy' THEN f END) AS fyy
              FROM stepped WHERE rn = k GROUP BY n
            )
            SELECT n, 64::BIGINT AS dim,
              CASE WHEN fxx > 0 AND fyy > 0 THEN
                floor(fxy / (sqrt(fxx) * sqrt(fyy)) * 1e6) / 1e6
              END AS cka_q6
            FROM fr
        """,
        "q_forecast_accuracy": """
            WITH daily AS (
              SELECT event_type AS g, date_trunc('day', ts) AS day,
                     count(*)::BIGINT AS x
              FROM events GROUP BY event_type, date_trunc('day', ts)
            ),
            l AS (
              SELECT g, day, x,
                lag(x, 7) OVER w AS f,
                lag(x, 1) OVER w AS p,
                row_number() OVER w AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM daily WINDOW w AS (PARTITION BY g ORDER BY day)
            ),
            s AS (
              SELECT g, x, f, p, rn, k,
                sum(CASE WHEN f IS NOT NULL AND (abs(x) + abs(f)) > 0
                    THEN 2.0 * abs(x - f)::DOUBLE
                         / (abs(x) + abs(f))::DOUBLE
                    ELSE 0.0 END)
                  OVER (PARTITION BY g ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ss,
                sum(CASE WHEN f IS NOT NULL AND x <> 0
                    THEN abs(x - f)::DOUBLE / abs(x)::DOUBLE
                    ELSE 0.0 END)
                  OVER (PARTITION BY g ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sm
              FROM l
            ),
            a AS (
              SELECT g,
                max(k)::BIGINT AS n,
                sum(CASE WHEN f IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_eval,
                sum(CASE WHEN f IS NOT NULL THEN abs(x - f)
                    END)::BIGINT AS sae,
                sum(CASE WHEN f IS NOT NULL
                    THEN (x - f) * (x - f) END)::BIGINT AS sse,
                sum(CASE WHEN f IS NOT NULL THEN
                      CASE WHEN x - f >= 0 THEN 9 * (x - f)
                           ELSE -(x - f) END
                    END)::BIGINT AS spin,
                sum(CASE WHEN x <> 0 AND f IS NOT NULL THEN 1 ELSE 0
                    END)::BIGINT AS n_mape,
                sum(CASE WHEN p IS NOT NULL THEN abs(x - p)
                    END)::BIGINT AS snv,
                sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_nv,
                max(CASE WHEN rn = k THEN ss END) AS smape_sum,
                max(CASE WHEN rn = k THEN sm END) AS mape_sum
              FROM s GROUP BY g
            )
            SELECT g AS event_type, n, n_eval,
              floor(sae::DOUBLE / n_eval::DOUBLE / 1.0 * 1e6) / 1e6
                AS mae_q6,
              floor(sqrt(sse::DOUBLE / n_eval::DOUBLE) / 1.0 * 1e6)
                / 1e6 AS rmse_q6,
              floor(smape_sum / n_eval::DOUBLE * 1e6) / 1e6
                AS smape_q6,
              CASE WHEN n_mape > 0 THEN
                floor(mape_sum / n_mape::DOUBLE * 1e6) / 1e6
              END AS mape_q6,
              CASE WHEN snv > 0 THEN
                floor((sae::DOUBLE / n_eval::DOUBLE)
                      / (snv::DOUBLE / n_nv::DOUBLE) * 1e6) / 1e6
              END AS mase_q6,
              floor(spin::DOUBLE / (10.0 * n_eval::DOUBLE) / 1.0 * 1e6)
                / 1e6 AS pinball90_q6
            FROM a WHERE n_eval > 0
        """,
        "q_brunner_munzel": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                coalesce(sum(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cab,
                coalesce(sum(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cbb
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                sum(ca * (2 * (cab + cbb) + ca + cb + 1))::BIGINT
                  AS sda,
                sum(cb * (2 * (cab + cbb) + ca + cb + 1))::BIGINT
                  AS sdb,
                sum(ca * (2 * cbb + cb))::BIGINT AS sua,
                sum(ca * (2 * cbb + cb) * (2 * cbb + cb))::BIGINT
                  AS suua,
                sum(cb * (2 * cab + ca))::BIGINT AS sub,
                sum(cb * (2 * cab + ca) * (2 * cab + ca))::BIGINT
                  AS suub
              FROM cum
            ),
            m AS (
              SELECT n_a, n_b, n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                sda::DOUBLE / (2.0 * n_a::DOUBLE) AS rba,
                sdb::DOUBLE / (2.0 * n_b::DOUBLE) AS rbb,
                sda::DOUBLE / n_a::DOUBLE - (n_a::DOUBLE + 1.0)
                  AS cca,
                sdb::DOUBLE / n_b::DOUBLE - (n_b::DOUBLE + 1.0)
                  AS ccb,
                sua::DOUBLE AS suad, suua::DOUBLE AS suuad,
                sub::DOUBLE AS subd, suub::DOUBLE AS suubd
              FROM agg
            ),
            m2 AS (
              SELECT n_a, n_b, na, nb, rba, rbb,
                (suuad - 2.0 * cca * suad + na * cca * cca) / 4.0
                  / (na - 1.0) AS s2a,
                (suubd - 2.0 * ccb * subd + nb * ccb * ccb) / 4.0
                  / (nb - 1.0) AS s2b
              FROM m
            ),
            m3 AS (
              SELECT n_a, n_b, na, nb, rba, rbb, s2a, s2b,
                na * s2a + nb * s2b AS t
              FROM m2
            )
            SELECT n_a, n_b,
              floor((rbb - (nb + 1.0) / 2.0) / na * 1e6) / 1e6
                AS p_hat_q6,
              CASE WHEN t > 0 THEN
                floor(na * nb * (rbb - rba) / (na + nb) / sqrt(t)
                      * 1e6) / 1e6
              END AS w_q6,
              CASE WHEN t > 0 THEN
                floor(t * t
                      / ((na * s2a) * (na * s2a) / (na - 1.0)
                         + (nb * s2b) * (nb * s2b) / (nb - 1.0))
                      * 1e6) / 1e6
              END AS df_q6
            FROM m3
        """,
        "q_hurst": """
            WITH pre AS (
              SELECT event_type AS g,
                CAST(round(value * 100, 0) AS BIGINT) AS x,
                row_number() OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id) - 1 AS t
              FROM events WHERE value IS NOT NULL
            ),
            pm AS (
              SELECT g, x, m, t // m AS b, t % m + 1 AS j
              FROM pre, (SELECT unnest([8, 16, 32, 64]) AS m)
            ),
            r_ AS (
              SELECT g, m, b, j,
                sum(x) OVER (PARTITION BY g, m, b ORDER BY j
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cx,
                sum(x) OVER (PARTITION BY g, m, b) AS sx,
                sum(x * x) OVER (PARTITION BY g, m, b) AS sxx,
                count(*) OVER (PARTITION BY g, m, b) AS cnt
              FROM pm
            ),
            complete AS (SELECT * FROM r_ WHERE cnt = m),
            blocks AS (
              SELECT g, m, b,
                max(cx::DOUBLE - j::DOUBLE * sx::DOUBLE / m::DOUBLE)
                  AS smax,
                min(cx::DOUBLE - j::DOUBLE * sx::DOUBLE / m::DOUBLE)
                  AS smin,
                max(sx)::BIGINT AS bsx, max(sxx)::BIGINT AS bsxx
              FROM complete GROUP BY g, m, b
            ),
            rs AS (
              SELECT g, m, b,
                (smax - smin)
                  / sqrt(bsxx::DOUBLE / m::DOUBLE
                         - (bsx::DOUBLE / m::DOUBLE)
                           * (bsx::DOUBLE / m::DOUBLE)) AS rsv
              FROM blocks
              WHERE bsxx::DOUBLE / m::DOUBLE
                    - (bsx::DOUBLE / m::DOUBLE)
                      * (bsx::DOUBLE / m::DOUBLE) > 0
            ),
            stepped AS (
              SELECT g, m,
                sum(rsv) OVER (PARTITION BY g, m ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS srs,
                row_number() OVER (PARTITION BY g, m ORDER BY b) AS rn,
                count(*) OVER (PARTITION BY g, m) AS nb
              FROM rs
            ),
            per_m AS (
              SELECT g, m, nb::BIGINT AS n_blocks,
                     srs / nb::DOUBLE AS rs_mean
              FROM stepped WHERE rn = nb
            ),
            fitted AS (
              SELECT g, m, n_blocks, rs_mean,
                sum(ln(m::DOUBLE)) OVER w AS sx2,
                sum(ln(rs_mean)) OVER w AS sy,
                sum(ln(m::DOUBLE) * ln(rs_mean)) OVER w AS sxy,
                sum(ln(m::DOUBLE) * ln(m::DOUBLE)) OVER w AS sxx2,
                row_number() OVER (PARTITION BY g ORDER BY m) AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM per_m
              WINDOW w AS (PARTITION BY g ORDER BY m
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW)
            ),
            h AS (
              SELECT g,
                CASE WHEN k >= 2 THEN
                  (k::DOUBLE * sxy - sx2 * sy)
                    / (k::DOUBLE * sxx2 - sx2 * sx2)
                END AS hh
              FROM fitted WHERE rn = k
            )
            SELECT per_m.g AS event_type, m AS block_m, n_blocks,
              floor(rs_mean * 1e6) / 1e6 AS rs_mean_q6,
              floor(hh * 1e6) / 1e6 AS hurst_q6
            FROM per_m JOIN h ON per_m.g = h.g
        """,
        "q_dp_counts": """
            WITH counts AS (
              SELECT source, count(*)::BIGINT AS n_true
              FROM documents GROUP BY source
            ),
            u_ AS (
              SELECT source, n_true,
                ((CAST(('0x' || substring(
                    md5('dp0' || chr(31) || source), 1, 15)) AS BIGINT)
                  % 1000000000000)::DOUBLE + 0.5) / 1e12 AS u
              FROM counts
            )
            SELECT source, n_true,
              floor(greatest(0.0,
                n_true::DOUBLE
                + (-(1.0 / 1.0)) * sign(u - 0.5)
                  * ln(1.0 - 2.0 * abs(u - 0.5))) * 1e6) / 1e6
                AS released_q6
            FROM u_
        """,
        "q_neyman": """
            WITH base AS (
              SELECT o_orderpriority AS st,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            agg AS (
              SELECT st, count(*)::BIGINT AS n_rows,
                sum(v)::BIGINT AS s,
                sum(CAST(v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ss
              FROM base GROUP BY st
            ),
            w_ AS (
              SELECT st, n_rows,
                CASE WHEN n_rows > 1 THEN
                  sqrt(greatest(0.0,
                    (ss::DOUBLE - s::DOUBLE
                       * (s::DOUBLE / n_rows::DOUBLE))
                    / (n_rows::DOUBLE - 1.0)))
                ELSE 0.0 END AS sd
              FROM agg
            ),
            w2 AS (
              SELECT st, n_rows, sd / 100.0 AS sdq,
                     n_rows::DOUBLE * sd AS w
              FROM w_
            ),
            cum AS (
              SELECT st, n_rows, sdq, w,
                sum(w) OVER (ORDER BY st ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS cw,
                row_number() OVER (ORDER BY st) AS rn,
                count(*) OVER () AS k
              FROM w2
            ),
            wtot AS (SELECT cw AS wt FROM cum WHERE rn = k)
            SELECT st AS o_orderpriority, n_rows,
              floor(sdq * 1e6) / 1e6 AS sd_q6,
              floor((CASE WHEN wt > 0 THEN w / wt ELSE 0.0 END) * 1e6)
                / 1e6 AS alloc_frac_q6,
              CAST(floor(10000.0 * (CASE WHEN wt > 0 THEN w / wt
                                    ELSE 0.0 END)) AS BIGINT)
                AS n_alloc
            FROM cum, wtot
        """,
        "q_kendalls_w": """
            WITH cells AS (
              SELECT o_custkey % 50 AS subj, o_orderpriority AS trt,
                     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS v
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT subj, trt,
                     (2 * rank() OVER (PARTITION BY subj ORDER BY v)
                      + count(*) OVER (PARTITION BY subj, v)
                      - 1)::BIGINT AS r2
              FROM cells
            ),
            scal AS (
              SELECT sum(r2 * r2)::BIGINT AS a4,
                     count(DISTINCT subj)::BIGINT AS n_subj,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            per_trt AS (
              SELECT trt, sum(r2)::BIGINT AS r2_sum
              FROM ranked GROUP BY trt
            ),
            s AS (
              SELECT sum((r2_sum - n_subj * (k + 1))
                         * (r2_sum - n_subj * (k + 1)))::BIGINT AS s4,
                     max(a4) AS a4,
                     max(n_subj) AS n_subjects,
                     max(k) AS k
              FROM per_trt, scal
            ),
            q AS (
              SELECT n_subjects, k,
                CASE WHEN a4 > n_subjects * k * (k + 1) * (k + 1) THEN
                  floor((k - 1)::DOUBLE * s4::DOUBLE
                        / (a4 - n_subjects * k * (k + 1)
                           * (k + 1))::DOUBLE * 1e6) / 1e6
                END AS q_q6
              FROM s
            )
            SELECT n_subjects, k, q_q6,
              CASE WHEN q_q6 IS NOT NULL AND k > 1 THEN
                floor(q_q6 / (n_subjects::DOUBLE * (k - 1)::DOUBLE)
                      * 1e6) / 1e6
              END AS w_q6
            FROM q
        """,
        "q_grubbs": """
            WITH base AS (
              SELECT c_mktsegment AS g,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            mom AS (
              SELECT g, count(*)::BIGINT AS n, sum(v)::BIGINT AS s,
                sum(v * v)::BIGINT AS ss
              FROM base GROUP BY g
            ),
            dev AS (
              SELECT base.g, n, v,
                abs(v::DOUBLE - s::DOUBLE / n::DOUBLE) AS d,
                (ss::DOUBLE - s::DOUBLE * (s::DOUBLE / n::DOUBLE))
                  / (n::DOUBLE - 1.0) AS var
              FROM base JOIN mom ON base.g = mom.g
            ),
            pick AS (
              SELECT g, n, v, d, var,
                row_number() OVER (PARTITION BY g
                                   ORDER BY d DESC, v DESC) AS rn
              FROM dev
            )
            SELECT g AS c_mktsegment, n,
              v::DOUBLE / 100.0 AS outlier_value_q,
              CASE WHEN var > 0 THEN
                floor(d / sqrt(var) * 1e6) / 1e6
              END AS g_q6
            FROM pick WHERE rn = 1
        """,
        "q_hubness": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                       FROM embeddings WHERE vec_id < 200),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            ranked AS (
              SELECT query_id, neighbor_id
              FROM (
                SELECT query_id, neighbor_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC)
                         AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            occ AS (
              SELECT neighbor_id, count(*)::BIGINT AS c
              FROM ranked GROUP BY neighbor_id
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n_points,
                sum(c)::BIGINT AS k_total,
                sum(c * c)::BIGINT AS s2,
                sum(c * c * c)::BIGINT AS s3,
                max(c)::BIGINT AS max_occ
              FROM occ
            ),
            f AS (
              SELECT n_points, k_total, max_occ,
                k_total::DOUBLE / n_points::DOUBLE AS m1,
                s2::DOUBLE / n_points::DOUBLE AS s2n,
                s3::DOUBLE / n_points::DOUBLE AS s3n
              FROM agg
            ),
            f2 AS (
              SELECT n_points, k_total, max_occ, m1,
                s2n - m1 * m1 AS m2,
                s3n - 3.0 * m1 * s2n + 2.0 * m1 * m1 * m1 AS m3
              FROM f
            )
            SELECT n_points, k_total,
              floor(m1 * 1e6) / 1e6 AS mean_occ_q6,
              CASE WHEN m2 > 0 THEN
                floor(m3 / (sqrt(m2) * m2) * 1e6) / 1e6
              END AS skew_q6,
              max_occ
            FROM f2
        """,
        "q_effect_sizes": """
            WITH base AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
                AND c_acctbal IS NOT NULL
            ),
            agg AS (
              SELECT sum(s)::BIGINT AS n_a,
                sum(1 - s)::BIGINT AS n_b,
                sum(s * v)::BIGINT AS sa,
                sum((1 - s) * v)::BIGINT AS sb,
                sum(CAST(s * v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ssa,
                sum(CAST((1 - s) * v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ssb
              FROM base
            ),
            m AS (
              SELECT n_a, n_b,
                n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                sa::DOUBLE / n_a::DOUBLE AS ma,
                sb::DOUBLE / n_b::DOUBLE AS mb,
                (ssa::DOUBLE - sa::DOUBLE
                   * (sa::DOUBLE / n_a::DOUBLE))
                  / (n_a::DOUBLE - 1.0) AS va,
                (ssb::DOUBLE - sb::DOUBLE
                   * (sb::DOUBLE / n_b::DOUBLE))
                  / (n_b::DOUBLE - 1.0) AS vb
              FROM agg
            ),
            m2 AS (
              SELECT n_a, n_b, na, nb, ma, mb, vb,
                ((na - 1.0) * va + (nb - 1.0) * vb)
                  / (na + nb - 2.0) AS sp2
              FROM m
            )
            SELECT n_a, n_b,
              floor((ma - mb) / 100.0 * 1e6) / 1e6 AS mean_diff_q,
              CASE WHEN sp2 > 0 THEN
                floor((ma - mb) / sqrt(sp2) * 1e6) / 1e6
              END AS d_q6,
              CASE WHEN sp2 > 0 THEN
                floor((ma - mb) / sqrt(sp2)
                      * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)) * 1e6)
                  / 1e6
              END AS g_q6,
              CASE WHEN vb > 0 THEN
                floor((ma - mb) / sqrt(vb) * 1e6) / 1e6
              END AS glass_q6
            FROM m2
        """,
        "q_partial_corr": """
            WITH base AS (
              SELECT
                CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
                CAST(round(l_quantity * 100, 0) AS BIGINT) AS y,
                CAST(round(l_discount * 100, 0) AS BIGINT) AS z
              FROM lineitem
              WHERE l_extendedprice IS NOT NULL
                AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                sum(z)::BIGINT AS sz,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(x AS DECIMAL(38,0))) AS sxx,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS syy,
                sum(CAST(z AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS szz,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(y AS DECIMAL(38,0))) AS sxy,
                sum(CAST(x AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS sxz,
                sum(CAST(y AS DECIMAL(38,0))
                    * CAST(z AS DECIMAL(38,0))) AS syz
              FROM base
            ),
            c AS (
              SELECT n,
                sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE
                  AS cxx,
                syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cyy,
                szz::DOUBLE - sz::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS czz,
                sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE
                  AS cxy,
                sxz::DOUBLE - sx::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS cxz,
                syz::DOUBLE - sy::DOUBLE * sz::DOUBLE / n::DOUBLE
                  AS cyz
              FROM agg
            ),
            r AS (
              SELECT n, cxx, cyy, czz,
                cxy / sqrt(cxx * cyy) AS rxy,
                cxz / sqrt(cxx * czz) AS rxz,
                cyz / sqrt(cyy * czz) AS ryz
              FROM c
            ),
            p AS (
              SELECT n, cxx, cyy, czz, rxy, rxz, ryz,
                sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)) AS den
              FROM r
            )
            SELECT n,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(rxy * 1e6) / 1e6 END AS r_xy_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(rxz * 1e6) / 1e6 END AS r_xz_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 THEN
                floor(ryz * 1e6) / 1e6 END AS r_yz_q6,
              CASE WHEN cxx > 0 AND cyy > 0 AND czz > 0 AND den > 0
              THEN
                floor((rxy - rxz * ryz) / den * 1e6) / 1e6
              END AS partial_q6
            FROM p
        """,
        "q_gini_gain": """
            WITH fy AS (
              SELECT source AS f, lang AS y, count(*)::BIGINT AS c
              FROM documents
              WHERE source IS NOT NULL AND lang IS NOT NULL
              GROUP BY source, lang
            ),
            per_f AS (
              SELECT f, sum(c)::BIGINT AS nf,
                     sum(c * c)::BIGINT AS cf2
              FROM fy GROUP BY f
            ),
            per_y AS (SELECT y, sum(c)::BIGINT AS ny FROM fy GROUP BY y),
            tot AS (SELECT sum(c)::BIGINT AS n FROM fy),
            ys AS (
              SELECT count(*)::BIGINT AS k_labels,
                     sum(ny * ny)::BIGINT AS sy2,
                     max(n) AS n
              FROM per_y, tot
            ),
            stepped AS (
              SELECT
                sum(cf2::DOUBLE / nf::DOUBLE)
                  OVER (ORDER BY f ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS sc,
                row_number() OVER (ORDER BY f) AS rn,
                count(*) OVER () AS k
              FROM per_f
            ),
            fsum AS (
              SELECT k::BIGINT AS k_features, sc
              FROM stepped WHERE rn = k
            )
            SELECT n, k_features, k_labels,
              floor((1.0 - sy2::DOUBLE / (n::DOUBLE * n::DOUBLE))
                    * 1e6) / 1e6 AS gini_parent_q6,
              floor((1.0 - sc / n::DOUBLE) * 1e6) / 1e6
                AS gini_split_q6,
              floor(((1.0 - sy2::DOUBLE / (n::DOUBLE * n::DOUBLE))
                     - (1.0 - sc / n::DOUBLE)) * 1e6) / 1e6
                AS gain_q6
            FROM ys, fsum
        """,
        "q_risk_ratios": """
            WITH agg AS (
              SELECT
                sum(CASE WHEN user_id % 2 = 0
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END)::BIGINT AS a,
                sum(CASE WHEN user_id % 2 = 0
                         AND NOT (event_type = 'purchase')
                    THEN 1 ELSE 0 END)::BIGINT AS b,
                sum(CASE WHEN NOT (user_id % 2 = 0)
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END)::BIGINT AS c,
                sum(CASE WHEN NOT (user_id % 2 = 0)
                         AND NOT (event_type = 'purchase')
                    THEN 1 ELSE 0 END)::BIGINT AS d
              FROM events
              WHERE user_id IS NOT NULL AND event_type IS NOT NULL
            ),
            f AS (
              SELECT a, b, c, d, a::DOUBLE AS ad, b::DOUBLE AS bd,
                     c::DOUBLE AS cd, d::DOUBLE AS dd
              FROM agg
            ),
            m AS (
              SELECT a, b, c, d,
                (ad / (ad + bd)) / (cd / (cd + dd)) AS rr,
                sqrt(1.0 / ad - 1.0 / (ad + bd) + 1.0 / cd
                     - 1.0 / (cd + dd)) AS serr,
                ad * dd / (bd * cd) AS orr,
                sqrt(1.0 / ad + 1.0 / bd + 1.0 / cd + 1.0 / dd)
                  AS seor
              FROM f
            )
            SELECT a, b, c, d,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(rr * 1e6) / 1e6 END AS rr_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(rr) - 1.96 * serr) * 1e6) / 1e6
              END AS rr_lo_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(rr) + 1.96 * serr) * 1e6) / 1e6
              END AS rr_hi_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(orr * 1e6) / 1e6 END AS or_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(orr) - 1.96 * seor) * 1e6) / 1e6
              END AS or_lo_q6,
              CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
                floor(exp(ln(orr) + 1.96 * seor) * 1e6) / 1e6
              END AS or_hi_q6
            FROM m
        """,
        "q_quade": """
            WITH cells AS (
              SELECT o_custkey % 50 AS subj, o_orderpriority AS trt,
                     sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                       AS v
              FROM orders GROUP BY 1, 2
            ),
            ranked AS (
              SELECT subj, trt,
                     (2 * rank() OVER (PARTITION BY subj ORDER BY v)
                      + count(*) OVER (PARTITION BY subj, v)
                      - 1)::BIGINT AS r2
              FROM cells
            ),
            rng AS (
              SELECT subj, (max(v) - min(v))::BIGINT AS vrange
              FROM cells GROUP BY subj
            ),
            q2 AS (
              SELECT subj,
                     (2 * rank() OVER (ORDER BY vrange)
                      + count(*) OVER (PARTITION BY vrange)
                      - 1)::BIGINT AS q2
              FROM rng
            ),
            scal AS (
              SELECT count(DISTINCT subj)::BIGINT AS n_blocks,
                     count(DISTINCT trt)::BIGINT AS k
              FROM ranked
            ),
            s4 AS (
              SELECT trt, n_blocks, k,
                     q2 * (r2 - (k + 1)) AS s4
              FROM ranked JOIN q2 USING (subj), scal
            ),
            per_trt AS (
              SELECT trt, sum(s4)::BIGINT AS t,
                     sum(s4 * s4)::BIGINT AS aa,
                     max(n_blocks) AS n_blocks, max(k) AS k
              FROM s4 GROUP BY trt
            ),
            fin AS (
              SELECT sum(t * t)::BIGINT AS st2,
                     sum(aa)::BIGINT AS a16,
                     max(n_blocks) AS n_blocks, max(k) AS k
              FROM per_trt
            )
            SELECT n_blocks, k,
              CASE WHEN a16::DOUBLE
                        > st2::DOUBLE / n_blocks::DOUBLE THEN
                floor((n_blocks::DOUBLE - 1.0)
                      * (st2::DOUBLE / n_blocks::DOUBLE)
                      / (a16::DOUBLE
                         - st2::DOUBLE / n_blocks::DOUBLE) * 1e6)
                  / 1e6
              END AS f_q6
            FROM fin
        """,
        "q_seasonal_decompose": """
            WITH daily AS (
              SELECT event_type AS g, date_trunc('day', ts) AS day,
                     count(*)::BIGINT AS x
              FROM events GROUP BY event_type, date_trunc('day', ts)
            ),
            pre AS (
              SELECT g, x,
                row_number() OVER (PARTITION BY g ORDER BY day) AS t
              FROM daily
            ),
            r_ AS (
              SELECT g, x, t, ((t - 1) % 7)::INTEGER AS ph,
                CASE WHEN count(*) OVER w7 = 7 THEN
                  (sum(x) OVER w7)::DOUBLE / 7.0 END AS trend
              FROM pre
              WINDOW w7 AS (PARTITION BY g ORDER BY t
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
            ),
            comp AS (
              SELECT g, x, t, ph, x::DOUBLE - trend AS d
              FROM r_ WHERE trend IS NOT NULL
            ),
            ph_step AS (
              SELECT g, ph,
                sum(d) OVER (PARTITION BY g, ph ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sd,
                row_number() OVER (PARTITION BY g, ph ORDER BY t)
                  AS rn,
                count(*) OVER (PARTITION BY g, ph) AS np
              FROM comp
            ),
            s_raw AS (
              SELECT g, ph, sd / np::DOUBLE AS sraw
              FROM ph_step WHERE rn = np
            ),
            s_step AS (
              SELECT g, ph, sraw,
                sum(sraw) OVER (PARTITION BY g ORDER BY ph
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cs,
                row_number() OVER (PARTITION BY g ORDER BY ph) AS rn,
                count(*) OVER (PARTITION BY g) AS k
              FROM s_raw
            ),
            s_mean AS (
              SELECT g, cs / k::DOUBLE AS smean
              FROM s_step WHERE rn = k
            ),
            seasonal AS (
              SELECT s_raw.g AS g, ph, sraw - smean AS s
              FROM s_raw JOIN s_mean ON s_raw.g = s_mean.g
            ),
            joined AS (
              SELECT comp.g AS g, t, comp.ph AS ph, d,
                     d - s AS r, x::DOUBLE - s AS xs
              FROM comp JOIN seasonal
                ON comp.g = seasonal.g AND comp.ph = seasonal.ph
            ),
            var_step AS (
              SELECT g,
                sum(d) OVER wt AS s_d, sum(d * d) OVER wt AS s_d2,
                sum(r) OVER wt AS s_r, sum(r * r) OVER wt AS s_r2,
                sum(xs) OVER wt AS s_xs,
                sum(xs * xs) OVER wt AS s_xs2,
                row_number() OVER (PARTITION BY g ORDER BY t) AS rn,
                count(*) OVER (PARTITION BY g) AS n
              FROM joined
              WINDOW wt AS (PARTITION BY g ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW)
            ),
            lastr AS (SELECT * FROM var_step WHERE rn = n),
            st AS (
              SELECT g, n::BIGINT AS n_days,
                s_d2 / n::DOUBLE
                  - (s_d / n::DOUBLE) * (s_d / n::DOUBLE) AS var_d,
                s_r2 / n::DOUBLE
                  - (s_r / n::DOUBLE) * (s_r / n::DOUBLE) AS var_r,
                s_xs2 / n::DOUBLE
                  - (s_xs / n::DOUBLE) * (s_xs / n::DOUBLE) AS var_xs
              FROM lastr
            ),
            st2 AS (
              SELECT g, n_days,
                CASE WHEN var_d > 0 THEN
                  greatest(0.0, 1.0 - var_r / var_d) END AS fs,
                CASE WHEN var_xs > 0 THEN
                  greatest(0.0, 1.0 - var_r / var_xs) END AS ft
              FROM st
            )
            SELECT seasonal.g AS event_type, ph AS phase, n_days,
              floor(s * 1e6) / 1e6 AS seasonal_q6,
              CASE WHEN ft IS NOT NULL THEN floor(ft * 1e6) / 1e6
                END AS f_trend_q6,
              CASE WHEN fs IS NOT NULL THEN floor(fs * 1e6) / 1e6
                END AS f_seasonal_q6
            FROM seasonal JOIN st2 ON seasonal.g = st2.g
        """,
        "q_juilland": """
            WITH parts AS (
              SELECT count(DISTINCT source)::BIGINT AS k
              FROM documents
            ),
            toks AS (
              SELECT source AS p, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tp AS (
              SELECT t, p, count(*)::BIGINT AS c
              FROM toks GROUP BY t, p
            ),
            per AS (
              SELECT t, sum(c)::BIGINT AS total_freq,
                sum(c * c)::BIGINT AS c2,
                count(*)::BIGINT AS n_parts_hit
              FROM tp GROUP BY t
            )
            SELECT t AS term, total_freq, n_parts_hit,
              floor((1.0 - (sqrt(greatest(0.0,
                       c2::DOUBLE / k::DOUBLE
                       - (total_freq::DOUBLE / k::DOUBLE)
                         * (total_freq::DOUBLE / k::DOUBLE)))
                     / (total_freq::DOUBLE / k::DOUBLE))
                    / sqrt(k::DOUBLE - 1.0)) * 1e6) / 1e6 AS d_q6
            FROM per, parts
            ORDER BY total_freq DESC, term ASC LIMIT 20
        """,
        "q_ansari": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo,
                sum(ca + cb) OVER () AS nn
              FROM cnt
            ),
            cells AS (
              SELECT v, ca, cb, ca + cb AS c, nn,
                lo + 1 AS a, lo + ca + cb AS b, nn + 1 AS m,
                (nn + 1) // 2 AS h
              FROM cum
            ),
            bs AS (
              SELECT v, ca, cb, c, nn,
                (CASE WHEN least(b, h) >= a THEN
                   (least(b, h) - a + 1) * (a + least(b, h)) // 2
                 ELSE 0 END)
                + (CASE WHEN b >= greatest(a, h + 1) THEN
                     (b - greatest(a, h + 1) + 1) * m
                     - (b - greatest(a, h + 1) + 1)
                       * (greatest(a, h + 1) + b) // 2
                   ELSE 0 END) AS bsum
              FROM cells
            ),
            stepped AS (
              SELECT nn,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b,
                sum(bsum) OVER ()::BIGINT AS s1,
                sum(ca::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS ab,
                sum(bsum::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s2,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM bs
            ),
            lastr AS (SELECT * FROM stepped WHERE rn = k)
            SELECT n_a, n_b,
              floor(ab * 1e6) / 1e6 AS ab_q6,
              CASE WHEN n_a::DOUBLE * n_b::DOUBLE
                        * (nn::DOUBLE * s2 - s1::DOUBLE * s1::DOUBLE)
                        / (nn::DOUBLE * nn::DOUBLE
                           * (nn::DOUBLE - 1.0)) > 0 THEN
                floor((ab - n_a::DOUBLE * s1::DOUBLE / nn::DOUBLE)
                      / sqrt(n_a::DOUBLE * n_b::DOUBLE
                             * (nn::DOUBLE * s2
                                - s1::DOUBLE * s1::DOUBLE)
                             / (nn::DOUBLE * nn::DOUBLE
                                * (nn::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS z_q6
            FROM lastr
        """,
        "q_anderson_darling": """
            WITH pooled AS (
              SELECT CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS s
              FROM documents WHERE lang IN ('en', 'de')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                coalesce(sum(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cua,
                coalesce(sum(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS cub,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b
              FROM cnt
            ),
            cells AS (
              SELECT v, n_a, n_b,
                ca + cb AS l, n_a + n_b AS nn,
                (n_a + n_b) * (2 * cua + ca)
                  - n_a * (2 * (cua + cub) + ca + cb) AS ra,
                (n_a + n_b) * (2 * cub + cb)
                  - n_b * (2 * (cua + cub) + ca + cb) AS rb,
                (2 * (cua + cub) + ca + cb)
                  * (2 * (n_a + n_b) - (2 * (cua + cub) + ca + cb))
                  - (n_a + n_b) * (ca + cb) AS den
              FROM cum
            ),
            terms AS (
              SELECT v, n_a, n_b, nn,
                l::DOUBLE / nn::DOUBLE
                * (CASE WHEN den <> 0 THEN
                     ra::DOUBLE * ra::DOUBLE
                     / (n_a::DOUBLE * den::DOUBLE)
                   END
                   + CASE WHEN den <> 0 THEN
                       rb::DOUBLE * rb::DOUBLE
                       / (n_b::DOUBLE * den::DOUBLE)
                     END) AS t
              FROM cells
            ),
            stepped AS (
              SELECT n_a, n_b, nn,
                sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS t,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT n_a, n_b,
              CASE WHEN k > 1 AND n_a > 0 AND n_b > 0 THEN
                floor((nn::DOUBLE - 1.0) / nn::DOUBLE * t * 1e6) / 1e6
              END AS a2_q6
            FROM stepped WHERE rn = k
        """,
        "q_siegel_tukey": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo,
                sum(ca + cb) OVER () AS nn
              FROM cnt
            ),
            cells AS (
              SELECT v, ca, cb, ca + cb AS c, nn,
                lo + 1 AS a, lo + ca + cb AS b,
                nn // 2 AS h
              FROM cum
            ),
            segs AS (
              SELECT v, ca, cb, c, nn, a, b, h,
                least(b, h) AS yb,
                nn - b + 1 AS qlo,
                least(nn - a + 1, h) AS qhi
              FROM cells
            ),
            bs AS (
              SELECT v, ca, cb, c, nn,
                -- bottom: 2*tri(a, yb) - odds(a, yb)
                (CASE WHEN yb >= a THEN
                   2 * (CASE WHEN (yb - a + 1) % 2 = 0 THEN
                          ((yb - a + 1) // 2) * (a + yb)
                        ELSE (yb - a + 1) * ((a + yb) // 2) END)
                   - ((yb + 1) // 2 - a // 2)
                 ELSE 0 END)
                -- middle: odd N, position h+1 scores N
                + (CASE WHEN nn % 2 = 1 AND a <= h + 1 AND b >= h + 1
                   THEN nn ELSE 0 END)
                -- top: 2*tri(qlo, qhi) - evens(qlo, qhi)
                + (CASE WHEN qhi >= qlo THEN
                     2 * (CASE WHEN (qhi - qlo + 1) % 2 = 0 THEN
                            ((qhi - qlo + 1) // 2) * (qlo + qhi)
                          ELSE (qhi - qlo + 1) * ((qlo + qhi) // 2)
                          END)
                     - (qhi // 2 - (qlo - 1) // 2)
                   ELSE 0 END) AS bsum
              FROM segs
            ),
            stepped AS (
              SELECT nn,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b,
                sum(bsum) OVER ()::BIGINT AS s1,
                sum(ca::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS st,
                sum(bsum::DOUBLE * bsum::DOUBLE / c::DOUBLE)
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS s2,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM bs
            ),
            lastr AS (SELECT * FROM stepped WHERE rn = k)
            SELECT n_a, n_b,
              floor(st * 1e6) / 1e6 AS st_q6,
              CASE WHEN n_a::DOUBLE * n_b::DOUBLE
                        * (nn::DOUBLE * s2 - s1::DOUBLE * s1::DOUBLE)
                        / (nn::DOUBLE * nn::DOUBLE
                           * (nn::DOUBLE - 1.0)) > 0 THEN
                floor((st - n_a::DOUBLE * s1::DOUBLE / nn::DOUBLE)
                      / sqrt(n_a::DOUBLE * n_b::DOUBLE
                             * (nn::DOUBLE * s2
                                - s1::DOUBLE * s1::DOUBLE)
                             / (nn::DOUBLE * nn::DOUBLE
                                * (nn::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS z_q6
            FROM lastr
        """,
        "q_youden": """
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT source,
                     CAST(round(score * 10000, 0) AS BIGINT) AS s, y
              FROM sc
            ),
            per AS (
              SELECT source, s, sum(y)::BIGINT AS p,
                     sum(1 - y)::BIGINT AS q
              FROM base GROUP BY source, s
            ),
            cum AS (
              SELECT source, s,
                sum(p) OVER wd AS tp,
                sum(q) OVER wd AS fp,
                sum(p) OVER (PARTITION BY source) AS pos,
                sum(q) OVER (PARTITION BY source) AS neg
              FROM per
              WINDOW wd AS (PARTITION BY source ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            cand AS (
              SELECT source, s, tp, fp, pos - tp AS fn,
                neg - fp AS tn, pos, neg,
                CAST(floor((tp::DOUBLE / pos::DOUBLE
                            - fp::DOUBLE / neg::DOUBLE) * 1e12)
                     AS BIGINT) AS jq
              FROM cum
            ),
            best AS (
              SELECT source, s, tp, fp, fn, tn, pos, neg, jq,
                row_number() OVER (PARTITION BY source
                  ORDER BY jq DESC, s DESC) AS rn
              FROM cand
            )
            SELECT source, s::DOUBLE / 10000.0 AS threshold,
              tp, fp, fn, tn,
              floor(jq::DOUBLE / 1e6) / 1e6 AS j_q6,
              floor(tp::DOUBLE / pos::DOUBLE * 1e6) / 1e6 AS tpr_q6,
              floor(fp::DOUBLE / neg::DOUBLE * 1e6) / 1e6 AS fpr_q6
            FROM best WHERE rn = 1
        """,
        "q_spiegelhalter": """
            WITH sc AS (
              SELECT
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                (CASE WHEN len(tok) > 0 THEN
                   list_sum(list_transform(tok, t ->
                     CAST(concat('0x', substr(md5(t), 1, 8))
                          AS BIGINT) % 2001 - 1000
                   ))::DOUBLE / (len(tok) * 1000.0)
                 ELSE 0.0 END) AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT y,
                CAST(round((score + 1.0) / 2.0 * 10000, 0) AS BIGINT)
                  AS k
              FROM sc
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(CAST(10000 * y - k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))) AS num,
                sum(CAST(k AS DECIMAL(38,0))
                    * CAST(10000 - k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))) AS den
              FROM base
            )
            SELECT n,
              CASE WHEN den::DOUBLE > 0 THEN
                floor(num::DOUBLE / sqrt(den::DOUBLE) * 1e6) / 1e6
              END AS z_q6
            FROM agg
        """,
        "q_rbp": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            wide AS (
              SELECT query_id, rank, rel,
                count(*) OVER (PARTITION BY query_id)::BIGINT AS d,
                coalesce(rank = row_number() OVER (
                  PARTITION BY query_id ORDER BY rank ASC NULLS FIRST),
                  false) AS at_pos
              FROM judged
            ),
            agg AS (
              SELECT query_id, max(d)::BIGINT AS n_ranked,
                sum(CASE WHEN at_pos AND d <= 22 THEN rel
                    * CAST(round(pow(4, (rank - 1)::DOUBLE), 0)
                           AS BIGINT)
                    * CAST(round(pow(5, (d - rank)::DOUBLE), 0)
                           AS BIGINT) END)::BIGINT AS isum,
                bool_and(at_pos) AND max(d) <= 22 AS ok
              FROM wide GROUP BY query_id
            )
            SELECT query_id, n_ranked,
              CASE WHEN ok THEN
                floor((1.0 * isum::DOUBLE)
                      / round(pow(5, n_ranked::DOUBLE), 0) * 1e6) / 1e6
              END AS rbp_q6,
              CASE WHEN ok THEN
                floor(round(pow(4, n_ranked::DOUBLE), 0)
                      / round(pow(5, n_ranked::DOUBLE), 0) * 1e6) / 1e6
              END AS rbp_residual_q6
            FROM agg
            ORDER BY query_id
        """,
        "q_overdispersion": """
            WITH per_user AS (
              SELECT event_type, user_id, count(*)::BIGINT AS c
              FROM events GROUP BY event_type, user_id
            ),
            agg AS (
              SELECT event_type, count(*)::BIGINT AS n,
                sum(c)::BIGINT AS s,
                sum(CAST(c AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS q
              FROM per_user GROUP BY event_type
            ),
            terms AS (
              SELECT event_type, n, s,
                s::DOUBLE / n::DOUBLE AS mean,
                (q::DOUBLE - (s::DOUBLE / n::DOUBLE) * s::DOUBLE)
                  / (n::DOUBLE - 1.0) AS var
              FROM agg
            )
            SELECT event_type, n,
              CASE WHEN n > 0 THEN floor(mean * 1e6) / 1e6
              END AS mean_q6,
              CASE WHEN n > 1 AND s > 0 THEN
                floor(var / mean * 1e6) / 1e6 END AS vmr_q6,
              CASE WHEN n > 1 AND s > 0 THEN
                floor(((n::DOUBLE - 1.0) * (var / mean)
                       - (n::DOUBLE - 1.0))
                      / sqrt(2.0 * (n::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS z_q6
            FROM terms
            ORDER BY event_type
        """,
        "q_isotropy": """
            WITH e AS (
              SELECT CAST(round(unnest(embedding)::DOUBLE * 10000, 0)
                          AS BIGINT) AS q,
                     generate_subscripts(embedding, 1) - 1 AS d
              FROM embeddings
            ),
            dims AS (
              SELECT d, sum(q)::BIGINT AS s FROM e GROUP BY d
            ),
            p AS (
              SELECT sum(CAST(s AS DECIMAL(38,0))
                         * CAST(s AS DECIMAL(38,0))) AS p,
                     count(*)::BIGINT AS dim
              FROM dims
            ),
            qq AS (
              SELECT sum(CAST(q AS DECIMAL(38,0))
                         * CAST(q AS DECIMAL(38,0))) AS qq
              FROM e
            ),
            nr AS (
              SELECT count(*)::BIGINT AS n FROM embeddings
              WHERE embedding IS NOT NULL AND len(embedding) > 0
            )
            SELECT n, dim,
              CASE WHEN n > 1 THEN
                floor((p - qq)::DOUBLE
                      / (n::DOUBLE * (n::DOUBLE - 1.0))
                      / 100000000.0 * 1e6) / 1e6
              END AS mean_dot_q6,
              CASE WHEN n > 0 THEN
                floor(qq::DOUBLE / n::DOUBLE / 100000000.0 * 1e6)
                  / 1e6
              END AS mean_sq_norm_q6,
              CASE WHEN n > 1 AND qq::DOUBLE > 0 THEN
                floor((p - qq)::DOUBLE
                      / ((n::DOUBLE - 1.0) * qq::DOUBLE) * 1e6) / 1e6
              END AS anisotropy_q6
            FROM nr, p, qq
        """,
        "q_effective_rank": """
            WITH e AS (
              SELECT vec_id,
                     generate_subscripts(embedding, 1) - 1 AS d,
                     unnest(embedding)::DOUBLE AS x
              FROM embeddings
            ),
            tot AS (SELECT count(*)::DOUBLE AS n FROM embeddings),
            cov AS (
              SELECT a.d AS d1, b.d AS d2,
                CAST(floor(((sum(a.x * b.x)
                             - sum(a.x) * sum(b.x) / any_value(n))
                            / (any_value(n) - 1)) * 1000000)
                     AS BIGINT) AS q
              FROM e a JOIN e b ON a.vec_id = b.vec_id
                                AND a.d <= b.d, tot
              GROUP BY a.d, b.d
            ),
            agg AS (
              SELECT (max(d2) + 1)::BIGINT AS dim,
                sum(CASE WHEN d1 = d2 THEN q ELSE 0 END)::BIGINT
                  AS tr,
                sum(CASE WHEN d1 = d2 THEN
                      CAST(q AS DECIMAL(38,0))
                      * CAST(q AS DECIMAL(38,0))
                    ELSE CAST(2 AS DECIMAL(38,0))
                      * CAST(q AS DECIMAL(38,0))
                      * CAST(q AS DECIMAL(38,0)) END) AS fr
              FROM cov
            )
            SELECT dim,
              floor(tr::DOUBLE / 1e6 * 1e6) / 1e6 AS trace_q6,
              CASE WHEN tr > 0 AND fr::DOUBLE > 0 THEN
                floor(tr::DOUBLE * tr::DOUBLE / fr::DOUBLE * 1e6)
                  / 1e6
              END AS pr_q6,
              CASE WHEN tr > 0 AND fr::DOUBLE > 0 THEN
                floor(tr::DOUBLE * tr::DOUBLE / fr::DOUBLE
                      / dim::DOUBLE * 1e6) / 1e6
              END AS pr_share_q6
            FROM agg
        """,
        "q_rate_ratio": """
            WITH per_user AS (
              SELECT user_id, count(*)::BIGINT AS x,
                (date_diff('day', min(CAST(ts AS DATE)),
                           max(CAST(ts AS DATE))) + 1)::BIGINT AS t
              FROM events GROUP BY user_id
            ),
            arms AS (
              SELECT x, t, CAST(user_id % 2 AS INT) AS g
              FROM per_user
            ),
            gm AS (SELECT min(g) AS ga FROM arms),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN x ELSE 0 END)::BIGINT AS x_a,
                sum(CASE WHEN g = ga THEN 0 ELSE x END)::BIGINT AS x_b,
                sum(CASE WHEN g = ga THEN t ELSE 0 END)::BIGINT AS t_a,
                sum(CASE WHEN g = ga THEN 0 ELSE t END)::BIGINT AS t_b
              FROM arms, gm
            ),
            rates AS (
              SELECT x_a, x_b, t_a, t_b,
                x_a::DOUBLE / (t_a::DOUBLE / 1.0) AS ra,
                x_b::DOUBLE / (t_b::DOUBLE / 1.0) AS rb
              FROM agg
            )
            SELECT x_a, x_b,
              CASE WHEN t_a > 0 THEN floor(ra * 1e6) / 1e6
              END AS rate_a_q6,
              CASE WHEN t_b > 0 THEN floor(rb * 1e6) / 1e6
              END AS rate_b_q6,
              CASE WHEN x_a > 0 AND x_b > 0 AND t_a > 0 AND t_b > 0
              THEN floor(ra / rb * 1e6) / 1e6 END AS rr_q6,
              CASE WHEN x_a > 0 AND x_b > 0 AND t_a > 0 AND t_b > 0
              THEN floor(ln(ra / rb)
                         / sqrt(1.0 / x_a::DOUBLE
                                + 1.0 / x_b::DOUBLE) * 1e6) / 1e6
              END AS z_q6
            FROM rates
        """,
        "q_log_odds": """
            WITH terms AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT word, sum(in_a)::BIGINT AS a,
                     sum(1 - in_a)::BIGINT AS b
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(in_a)::BIGINT AS na,
                     sum(1 - in_a)::BIGINT AS nb
              FROM terms
            ),
            scored AS (
              SELECT word, a, b,
                ln((a::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                      / (na::DOUBLE + nb::DOUBLE))
                   / (na::DOUBLE + 500.0 - a::DOUBLE
                      - 500.0 * (a::DOUBLE + b::DOUBLE)
                        / (na::DOUBLE + nb::DOUBLE)))
                - ln((b::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                        / (na::DOUBLE + nb::DOUBLE))
                     / (nb::DOUBLE + 500.0 - b::DOUBLE
                        - 500.0 * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE))) AS delta,
                1.0 / (a::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                       / (na::DOUBLE + nb::DOUBLE))
                + 1.0 / (b::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                         / (na::DOUBLE + nb::DOUBLE)) AS var
              FROM wc, tot
              WHERE a + b >= 5
            ),
            zz AS (
              SELECT word, a, b, delta,
                delta / sqrt(var) AS z
              FROM scored
            )
            SELECT word, a, b,
              floor(delta * 1e6) / 1e6 AS delta_q6,
              floor(z * 1e6) / 1e6 AS z_q6,
              (CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1
                    ELSE 0 END)::INTEGER AS direction
            FROM zz
            ORDER BY floor(abs(z) * 1e6) / 1e6 DESC, word
            LIMIT 100
        """,
        "q_two_proportion": """
            WITH flags AS (
              SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END::BIGINT
                       AS hi,
                     CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM flags),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN hi ELSE 0 END)::BIGINT
                  AS x_a,
                sum(CASE WHEN g = ga THEN 0 ELSE hi END)::BIGINT
                  AS x_b
              FROM flags, gm
            ),
            t AS (
              SELECT n_a, n_b, x_a, x_b,
                x_a::DOUBLE / n_a::DOUBLE AS pa,
                x_b::DOUBLE / n_b::DOUBLE AS pb,
                1.959964 * 1.959964 AS z2,
                1.959964 AS zc
              FROM agg
            ),
            w AS (
              SELECT *,
                (pa * n_a::DOUBLE + z2 / 2.0) / (n_a::DOUBLE + z2)
                  AS ca,
                zc * sqrt(pa * (1.0 - pa) / n_a::DOUBLE
                          + z2 / (4.0 * n_a::DOUBLE * n_a::DOUBLE))
                  / (1.0 + z2 / n_a::DOUBLE) AS ha,
                (pb * n_b::DOUBLE + z2 / 2.0) / (n_b::DOUBLE + z2)
                  AS cb,
                zc * sqrt(pb * (1.0 - pb) / n_b::DOUBLE
                          + z2 / (4.0 * n_b::DOUBLE * n_b::DOUBLE))
                  / (1.0 + z2 / n_b::DOUBLE) AS hb,
                (x_a + x_b)::DOUBLE / (n_a + n_b)::DOUBLE AS pp
              FROM t
            ),
            fin AS (
              SELECT n_a, n_b, x_a, x_b, pa, pb,
                pa - pb AS d,
                ca - ha AS la, ca + ha AS ua,
                cb - hb AS lb, cb + hb AS ub,
                sqrt(pp * (1.0 - pp)
                     * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)) AS se
              FROM w
            )
            SELECT n_a, n_b, x_a, x_b,
              floor(pa * 1e6) / 1e6 AS p_a_q6,
              floor(pb * 1e6) / 1e6 AS p_b_q6,
              floor(d * 1e6) / 1e6 AS diff_q6,
              CASE WHEN se > 0 THEN floor(d / se * 1e6) / 1e6
              END AS z_q6,
              floor((d - sqrt((pa - la) * (pa - la)
                              + (ub - pb) * (ub - pb))) * 1e6) / 1e6
                AS ci_lo_q6,
              floor((d + sqrt((ua - pa) * (ua - pa)
                              + (pb - lb) * (pb - lb))) * 1e6) / 1e6
                AS ci_hi_q6
            FROM fin
        """,
        "q_gries_dp": """
            WITH toks AS (
              SELECT source AS p,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS t
              FROM documents
            ),
            psize AS (
              SELECT p, count(*)::BIGINT AS pn FROM toks GROUP BY p
            ),
            tot AS (
              SELECT sum(pn)::BIGINT AS nn, min(pn)::BIGINT AS pmin
              FROM psize
            ),
            tp AS (
              SELECT t, p, count(*)::BIGINT AS c
              FROM toks GROUP BY t, p
            ),
            cells AS (
              SELECT tp.t, tp.p, tp.c, psize.pn
              FROM tp JOIN psize ON tp.p = psize.p
            ),
            per_term AS (
              SELECT t, sum(c)::BIGINT AS total_freq,
                     count(*)::BIGINT AS n_parts_hit,
                     sum(pn)::BIGINT AS bp
              FROM cells GROUP BY t
            ),
            a_sum AS (
              SELECT cells.t,
                sum(abs(CAST(cells.c AS DECIMAL(38,0))
                        * CAST(nn AS DECIMAL(38,0))
                        - CAST(cells.pn AS DECIMAL(38,0))
                        * CAST(total_freq AS DECIMAL(38,0))))
                  AS a
              FROM cells
                JOIN per_term ON cells.t = per_term.t, tot
              GROUP BY cells.t
            ),
            j AS (
              SELECT per_term.t, total_freq, n_parts_hit, bp, a,
                     nn, pmin
              FROM per_term JOIN a_sum ON per_term.t = a_sum.t, tot
            ),
            scored AS (
              SELECT t, total_freq, n_parts_hit,
                0.5 * (1.0
                       + a::DOUBLE / (total_freq::DOUBLE * nn::DOUBLE)
                       - bp::DOUBLE / nn::DOUBLE) AS dp,
                pmin::DOUBLE / nn::DOUBLE AS smin
              FROM j
            )
            SELECT t AS term, total_freq, n_parts_hit,
              floor(dp * 1e6) / 1e6 AS dp_q6,
              CASE WHEN smin < 1.0 THEN
                floor(dp / (1.0 - smin) * 1e6) / 1e6
              END AS dp_norm_q6
            FROM scored
            ORDER BY total_freq DESC, term
            LIMIT 20
        """,
        "q_burstiness": """
            WITH td AS (
              SELECT doc_id AS d,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS t
              FROM documents
            ),
            tdc AS (
              SELECT t, d, count(*)::BIGINT AS c
              FROM td GROUP BY t, d
            ),
            per_term AS (
              SELECT t, sum(c)::BIGINT AS cf, count(*)::BIGINT AS df,
                sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS df2
              FROM tdc GROUP BY t
            )
            SELECT t AS term, cf, df, df2,
              floor(cf::DOUBLE / df::DOUBLE * 1e6) / 1e6
                AS burstiness_q6,
              floor(df2::DOUBLE / df::DOUBLE * 1e6) / 1e6
                AS adaptation_q6
            FROM per_term
            WHERE df >= 5
            ORDER BY cf DESC, term
            LIMIT 100
        """,
        "q_hosmer": """
            WITH sc AS (
              SELECT
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                (CASE WHEN len(tok) > 0 THEN
                   list_sum(list_transform(tok, t ->
                     CAST(concat('0x', substr(md5(t), 1, 8))
                          AS BIGINT) % 2001 - 1000
                   ))::DOUBLE / (len(tok) * 1000.0)
                 ELSE 0.0 END) AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT y,
                CAST(round((score + 1.0) / 2.0 * 10000, 0) AS BIGINT)
                  AS k
              FROM sc
            ),
            binned AS (
              SELECT least(9, CAST(floor(k::DOUBLE / 10000.0 * 10.0)
                                   AS INT)) AS b, y, k
              FROM base
            ),
            bins AS (
              SELECT b, count(*)::BIGINT AS n, sum(y)::BIGINT AS o1,
                     sum(k)::BIGINT AS sk
              FROM binned GROUP BY b
            ),
            terms AS (
              SELECT b, n, o1,
                sk::DOUBLE / 10000.0 AS e1,
                n::DOUBLE - sk::DOUBLE / 10000.0 AS e0
              FROM bins
            ),
            stepped AS (
              SELECT
                sum(n) OVER ()::BIGINT AS n,
                sum(CASE WHEN e1 > 0 AND e0 > 0 THEN 1 ELSE 0 END)
                  OVER ()::BIGINT AS n_bins_used,
                sum(CASE WHEN e1 > 0 AND e0 > 0 THEN
                      (o1::DOUBLE - e1) * (o1::DOUBLE - e1) / e1
                      + ((n - o1)::DOUBLE - e0)
                        * ((n - o1)::DOUBLE - e0) / e0
                    END)
                  OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY b) AS rn,
                count(*) OVER () AS nb
              FROM terms
            )
            SELECT n, n_bins_used,
              CASE WHEN n_bins_used >= 3 THEN
                floor(chi2 * 1e6) / 1e6 END AS chi2_q6,
              CASE WHEN n_bins_used >= 3 THEN n_bins_used - 2
              END AS dof
            FROM stepped WHERE rn = nb
        """,
        "q_stratified_est": """
            WITH samp AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v
              FROM documents
              WHERE (CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 5) < 1
            ),
            sa AS (
              SELECT source, count(*)::BIGINT AS n,
                sum(v)::BIGINT AS s,
                sum(CAST(v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ss
              FROM samp GROUP BY source
            ),
            pop AS (
              SELECT source, count(*)::BIGINT AS np
              FROM documents GROUP BY source
            ),
            j AS (
              SELECT sa.source AS source, n, s, ss, np
              FROM sa JOIN pop ON sa.source = pop.source
            ),
            miss AS (
              SELECT count(*)::BIGINT AS n_unsampled,
                coalesce(sum(np), 0)::BIGINT AS np_missing
              FROM pop LEFT JOIN sa ON pop.source = sa.source
              WHERE sa.source IS NULL
            ),
            tots AS (
              SELECT sum(np)::BIGINT AS npop, sum(n)::BIGINT AS nsamp
              FROM j
            ),
            terms AS (
              SELECT source, n, npop, nsamp,
                np::DOUBLE / npop::DOUBLE * (s::DOUBLE / n::DOUBLE)
                  AS est_term,
                CASE WHEN n > 1 THEN
                  (np::DOUBLE / npop::DOUBLE)
                  * (np::DOUBLE / npop::DOUBLE)
                  * (1.0 - n::DOUBLE / np::DOUBLE)
                  * (((ss::DOUBLE - s::DOUBLE
                        * (s::DOUBLE / n::DOUBLE))
                      / (n::DOUBLE - 1.0)) / n::DOUBLE)
                ELSE 0.0 END AS se_term
              FROM j, tots
            ),
            stepped AS (
              SELECT npop, nsamp,
                sum(est_term) OVER (ORDER BY source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS est,
                sum(se_term) OVER (ORDER BY source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sev,
                sum(CASE WHEN n < 2 THEN 1 ELSE 0 END)
                  OVER ()::BIGINT AS thin,
                row_number() OVER (ORDER BY source) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT nsamp AS n_sample, npop AS n_pop,
              k::BIGINT AS k_strata, thin AS n_thin,
              n_unsampled, np_missing AS n_pop_missing,
              floor(est / 1.0 * 1e6) / 1e6 AS est_q6,
              floor(sqrt(sev) / 1.0 * 1e6) / 1e6 AS se_q6
            FROM stepped, miss WHERE rn = k
        """,
        "q_ordinal_assoc": """
            WITH g AS (
              SELECT
                CASE WHEN n_chars < 200 THEN 1
                     WHEN n_chars < 500 THEN 2
                     WHEN n_chars < 1000 THEN 3 ELSE 4 END AS xb,
                CASE WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 30 THEN 1
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 80 THEN 2
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 160 THEN 3
                     ELSE 4 END AS yb
              FROM documents
            ),
            cells AS (
              SELECT xb AS x, yb AS y, count(*)::BIGINT AS c
              FROM g GROUP BY xb, yb
            ),
            agg AS (
              SELECT
                coalesce(sum(CASE WHEN b.x > a.x AND b.y > a.y
                    THEN a.c * b.c END), 0)::BIGINT AS c_pairs,
                coalesce(sum(CASE WHEN b.x > a.x AND b.y < a.y
                    THEN a.c * b.c END), 0)::BIGINT AS d_pairs,
                coalesce(sum(CASE WHEN b.x = a.x AND b.y > a.y
                    THEN a.c * b.c END), 0)::BIGINT AS tx,
                coalesce(sum(CASE WHEN b.y = a.y AND b.x > a.x
                    THEN a.c * b.c END), 0)::BIGINT AS ty
              FROM cells a CROSS JOIN cells b
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM cells)
            SELECT n, c_pairs, d_pairs,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE) * 1e6)
                  / 1e6
              END AS gamma_q6,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE
                        + ty::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + ty::DOUBLE) * 1e6) / 1e6
              END AS somers_yx_q6,
              CASE WHEN c_pairs::DOUBLE + d_pairs::DOUBLE
                        + tx::DOUBLE > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + tx::DOUBLE) * 1e6) / 1e6
              END AS somers_xy_q6,
              CASE WHEN (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + tx::DOUBLE) > 0
                    AND (c_pairs::DOUBLE + d_pairs::DOUBLE
                         + ty::DOUBLE) > 0 THEN
                floor((c_pairs::DOUBLE - d_pairs::DOUBLE)
                      / sqrt((c_pairs::DOUBLE + d_pairs::DOUBLE
                              + tx::DOUBLE)
                             * (c_pairs::DOUBLE + d_pairs::DOUBLE
                                + ty::DOUBLE)) * 1e6) / 1e6
              END AS tau_b_q6
            FROM agg, tot
        """,
        "q_weighted_kappa": """
            WITH g AS (
              SELECT
                CASE WHEN n_chars < 200 THEN 1
                     WHEN n_chars < 500 THEN 2
                     WHEN n_chars < 1000 THEN 3 ELSE 4 END AS a,
                CASE WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 30 THEN 1
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 80 THEN 2
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 160 THEN 3
                     ELSE 4 END AS b
              FROM documents
            ),
            cells AS (
              SELECT a, b, count(*)::BIGINT AS o FROM g GROUP BY a, b
            ),
            obs AS (
              SELECT sum(o)::BIGINT AS n,
                sum(CAST(abs(a - b) AS DECIMAL(38,0))
                    * CAST(o AS DECIMAL(38,0))) AS wo_lin,
                sum(CAST(a - b AS DECIMAL(38,0))
                    * CAST(a - b AS DECIMAL(38,0))
                    * CAST(o AS DECIMAL(38,0))) AS wo_quad
              FROM cells
            ),
            ma AS (SELECT a, sum(o)::BIGINT AS r FROM cells GROUP BY a),
            mb AS (SELECT b, sum(o)::BIGINT AS c FROM cells GROUP BY b),
            chance AS (
              SELECT
                sum(CAST(abs(ma.a - mb.b) AS DECIMAL(38,0))
                    * CAST(r AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS we_lin,
                sum(CAST(ma.a - mb.b AS DECIMAL(38,0))
                    * CAST(ma.a - mb.b AS DECIMAL(38,0))
                    * CAST(r AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS we_quad
              FROM ma CROSS JOIN mb
            ),
            kc AS (
              SELECT count(DISTINCT k)::BIGINT AS k_cats
              FROM (SELECT a AS k FROM g UNION ALL SELECT b FROM g)
            )
            SELECT n, k_cats,
              CASE WHEN we_lin::DOUBLE > 0 THEN
                floor((1.0 - n::DOUBLE * wo_lin::DOUBLE
                       / we_lin::DOUBLE) * 1e6) / 1e6
              END AS kappa_lin_q6,
              CASE WHEN we_quad::DOUBLE > 0 THEN
                floor((1.0 - n::DOUBLE * wo_quad::DOUBLE
                       / we_quad::DOUBLE) * 1e6) / 1e6
              END AS kappa_quad_q6
            FROM obs, chance, kc
        """,
        "q_diversity": """
            WITH cnt AS (
              SELECT lang AS grp, CAST(source AS VARCHAR) AS i,
                count(*)::BIGINT AS c
              FROM documents WHERE source IS NOT NULL
              GROUP BY lang, source
            ),
            wide AS (
              SELECT grp, i, c,
                sum(c) OVER (PARTITION BY grp)::BIGINT AS n,
                sum(CAST(c AS DECIMAL(38,0))
                    * CAST(c - 1 AS DECIMAL(38,0)))
                  OVER (PARTITION BY grp) AS spair,
                max(c) OVER (PARTITION BY grp)::BIGINT AS cmax,
                count(*) OVER (PARTITION BY grp)::BIGINT AS k
              FROM cnt
            ),
            stepped AS (
              SELECT grp, n, spair, cmax, k,
                sum((c::DOUBLE / n::DOUBLE)
                    * ln(n::DOUBLE / c::DOUBLE))
                  OVER (PARTITION BY grp ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS h,
                row_number() OVER (PARTITION BY grp ORDER BY i) AS rn
              FROM wide
            )
            SELECT grp AS lang, n AS n_rows, k AS k_items,
              floor(h * 1e6) / 1e6 AS shannon_q6,
              CASE WHEN k > 1 THEN
                floor(h / ln(k::DOUBLE) * 1e6) / 1e6
              END AS evenness_q6,
              CASE WHEN n > 1 THEN
                floor(spair::DOUBLE
                      / (n::DOUBLE * (n::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS simpson_q6,
              CASE WHEN n > 1 THEN
                floor((1.0 - spair::DOUBLE
                       / (n::DOUBLE * (n::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS gini_simpson_q6,
              floor(cmax::DOUBLE / n::DOUBLE * 1e6) / 1e6
                AS berger_parker_q6
            FROM stepped WHERE rn = k
            ORDER BY lang
        """,
        "q_msprt": """
            WITH base AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CAST(user_id % 2 AS INT) AS g
              FROM events WHERE value IS NOT NULL
            ),
            gm AS (SELECT min(g) AS ga FROM base),
            agg AS (
              SELECT
                sum(CASE WHEN g = ga THEN 1 ELSE 0 END)::BIGINT AS n_a,
                sum(CASE WHEN g = ga THEN 0 ELSE 1 END)::BIGINT AS n_b,
                sum(CASE WHEN g = ga THEN v ELSE 0 END)::BIGINT AS s_a,
                sum(CASE WHEN g = ga THEN 0 ELSE v END)::BIGINT AS s_b,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 1 ELSE 0 END) AS q_a,
                sum(CAST(v AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))
                    * CASE WHEN g = ga THEN 0 ELSE 1 END) AS q_b
              FROM base, gm
            ),
            terms AS (
              SELECT n_a, n_b,
                s_a::DOUBLE / n_a::DOUBLE AS ma,
                s_b::DOUBLE / n_b::DOUBLE AS mb,
                (q_a::DOUBLE - (s_a::DOUBLE / n_a::DOUBLE) * s_a::DOUBLE)
                  / (n_a::DOUBLE - 1.0) AS va,
                (q_b::DOUBLE - (s_b::DOUBLE / n_b::DOUBLE) * s_b::DOUBLE)
                  / (n_b::DOUBLE - 1.0) AS vb
              FROM agg
            ),
            fin AS (
              SELECT n_a, n_b,
                (mb - ma) / 100.0 AS theta,
                (va / n_a::DOUBLE + vb / n_b::DOUBLE) / 10000.0 AS vv
              FROM terms
            ),
            ll AS (
              SELECT n_a, n_b, theta, vv,
                0.5 * ln(vv / (vv + 25.0))
                  + (theta * theta * 25.0)
                    / ((2.0 * vv) * (vv + 25.0)) AS log_l
              FROM fin
            )
            SELECT n_a, n_b,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(theta * 1e6) / 1e6 END AS diff_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(log_l * 1e6) / 1e6 END AS log_lambda_q6,
              CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0 THEN
                floor(least(1.0, exp(-log_l)) * 1e6) / 1e6
              END AS p_always_q6,
              CAST(CASE WHEN n_a > 1 AND n_b > 1 AND vv > 0
                         AND least(1.0, exp(-log_l)) < 0.05
                    THEN 1 ELSE 0 END AS INT) AS reject
            FROM ll
        """,
        "q_pettitt": """
            WITH base AS (
              SELECT event_type AS g,
                CAST(round(value * 100, 0) AS BIGINT) AS v,
                ts, event_id
              FROM events WHERE value IS NOT NULL
            ),
            cnt AS (
              SELECT g, v, count(*)::BIGINT AS c
              FROM base GROUP BY g, v
            ),
            dmap AS (
              SELECT g, v,
                2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS d
              FROM cnt
            ),
            j AS (
              SELECT base.g AS g, d,
                row_number() OVER (PARTITION BY base.g
                                   ORDER BY ts, event_id) AS t,
                count(*) OVER (PARTITION BY base.g) AS n
              FROM base JOIN dmap
                ON base.g = dmap.g AND base.v = dmap.v
            ),
            per_t AS (
              SELECT g, n, t,
                sum(d) OVER (PARTITION BY g ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - t * (n + 1) AS u2
              FROM j
            ),
            flt AS (SELECT * FROM per_t WHERE t < n),
            pick AS (
              SELECT g, n, t, abs(u2) AS k,
                row_number() OVER (PARTITION BY g
                    ORDER BY abs(u2) DESC, t ASC) AS rn
              FROM flt
            )
            SELECT g AS event_type, n::BIGINT AS n, t AS t_star,
              k::BIGINT AS k_stat,
              floor(least(1.0,
                2.0 * exp(-6.0 * k::DOUBLE * k::DOUBLE
                          / (n::DOUBLE * n::DOUBLE * n::DOUBLE
                             + n::DOUBLE * n::DOUBLE))) * 1e6) / 1e6
                AS p_approx_q6
            FROM pick WHERE rn = 1
        """,
        "q_wilcoxon": """
            WITH base AS (
              SELECT c_mktsegment AS g,
                CAST(round(c_acctbal * 100, 0) AS BIGINT) - 450000
                  AS d
              FROM customer WHERE c_acctbal IS NOT NULL
            ),
            nz AS (SELECT g, d FROM base WHERE d <> 0),
            cnt AS (
              SELECT g, abs(d) AS a,
                sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
                count(*)::BIGINT AS c
              FROM nz GROUP BY g, abs(d)
            ),
            rk AS (
              SELECT g, cp, c,
                2 * coalesce(sum(c) OVER (PARTITION BY g ORDER BY a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + c + 1 AS d2
              FROM cnt
            ),
            agg AS (
              SELECT g, sum(c)::BIGINT AS n_nonzero,
                sum(cp * d2)::BIGINT AS w2,
                sum(c * c * c - c)::BIGINT AS tie3
              FROM rk GROUP BY g
            ),
            m AS (
              SELECT g, n_nonzero,
                n_nonzero::DOUBLE AS nd,
                w2::DOUBLE / 2.0 AS w,
                tie3::DOUBLE AS tie3d
              FROM agg
            )
            SELECT g AS c_mktsegment, n_nonzero,
              w AS w_plus_q1,
              CASE WHEN nd * (nd + 1.0) * (2.0 * nd + 1.0) / 24.0
                        - tie3d / 48.0 > 0 THEN
                floor((w - nd * (nd + 1.0) / 4.0)
                      / sqrt(nd * (nd + 1.0) * (2.0 * nd + 1.0)
                             / 24.0 - tie3d / 48.0) * 1e6) / 1e6
              END AS z_q6
            FROM m
        """,
        "q_lift_table": """
            WITH sc AS (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT doc_id, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            rk AS (
              SELECT y, ntile(10) OVER (ORDER BY score DESC,
                                        doc_id ASC) AS bucket
              FROM sc
            ),
            per AS (
              SELECT bucket, count(*)::BIGINT AS n,
                     sum(y)::BIGINT AS n_pos
              FROM rk GROUP BY bucket
            ),
            cum AS (
              SELECT bucket, n, n_pos,
                sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW)::BIGINT AS cn,
                sum(n_pos) OVER (ORDER BY bucket ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cp,
                sum(n) OVER ()::BIGINT AS nt,
                sum(n_pos) OVER ()::BIGINT AS pt
              FROM per
            )
            SELECT bucket, n, n_pos,
              floor(n_pos::DOUBLE / n::DOUBLE * 1e6) / 1e6 AS rate_q6,
              CASE WHEN pt > 0 THEN
                floor(n_pos::DOUBLE / n::DOUBLE
                      / (pt::DOUBLE / nt::DOUBLE) * 1e6) / 1e6
              END AS lift_q6,
              CASE WHEN pt > 0 THEN
                floor(cp::DOUBLE / pt::DOUBLE * 1e6) / 1e6
              END AS cum_gain_q6,
              CASE WHEN pt > 0 THEN
                floor(cp::DOUBLE / cn::DOUBLE
                      / (pt::DOUBLE / nt::DOUBLE) * 1e6) / 1e6
              END AS cum_lift_q6
            FROM cum
        """,
        "q_ppv_card": """
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            agg AS (
              SELECT
                sum(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0
                    END)::BIGINT AS tp,
                sum(CASE WHEN y = 1 AND NOT (score > 0) THEN 1 ELSE 0
                    END)::BIGINT AS fn,
                sum(CASE WHEN y = 0 AND score > 0 THEN 1 ELSE 0
                    END)::BIGINT AS fp,
                sum(CASE WHEN y = 0 AND NOT (score > 0) THEN 1 ELSE 0
                    END)::BIGINT AS tn
              FROM sc
            ),
            rows_ AS (
              SELECT tp, fn, fp, tn, unnest([1, 5, 10, 50]) AS prev_pct
              FROM agg
            ),
            m AS (
              SELECT prev_pct, tp, fn, fp, tn,
                tp::DOUBLE / (tp + fn)::DOUBLE AS se,
                tn::DOUBLE / (tn + fp)::DOUBLE AS sp,
                prev_pct::DOUBLE / 100.0 AS p
              FROM rows_
            )
            SELECT prev_pct,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(se * 1e6) / 1e6 END AS se_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(sp * 1e6) / 1e6 END AS sp_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(se * p / (se * p + (1.0 - sp) * (1.0 - p))
                      * 1e6) / 1e6
              END AS ppv_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(sp * (1.0 - p)
                      / (sp * (1.0 - p) + (1.0 - se) * p) * 1e6) / 1e6
              END AS npv_q6
            FROM m
        """,
        "q_competing_risks": """
            WITH per_user AS (
              SELECT user_id, min(ts) AS startt, max(ts) AS lastt,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS p,
                min(CASE WHEN event_type = 'error' THEN ts END) AS e
              FROM events GROUP BY user_id
            ),
            obs AS (
              SELECT
                CASE WHEN p IS NOT NULL AND (e IS NULL OR p <= e)
                     THEN 1
                     WHEN e IS NOT NULL THEN 2 ELSE 0 END AS cause,
                CAST(floor(
                  (epoch_us(CASE WHEN p IS NOT NULL
                                      AND (e IS NULL OR p <= e)
                                 THEN p
                                 WHEN e IS NOT NULL THEN e
                                 ELSE lastt END)
                   - epoch_us(startt))::DOUBLE / 3600000000.0)
                  AS BIGINT) AS t
              FROM per_user
            ),
            tc AS (
              SELECT t, cause AS k, count(*)::BIGINT AS dk
              FROM obs GROUP BY t, cause
            ),
            per_t AS (
              SELECT t,
                sum(CASE WHEN k > 0 THEN dk ELSE 0 END)::BIGINT AS d,
                sum(dk)::BIGINT AS all_exits
              FROM tc GROUP BY t
            ),
            total AS (
              SELECT sum(all_exits)::BIGINT AS n_total FROM per_t
            ),
            risk AS (
              SELECT t, d,
                (n_total - coalesce(sum(all_exits) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0))::BIGINT AS n
              FROM per_t, total
            ),
            steps AS (
              SELECT t, n,
                CASE WHEN d = 0 THEN 0
                     WHEN d < n THEN
                       CAST(floor(ln(1.0 - d::DOUBLE / n::DOUBLE)
                                  * 1e9) AS BIGINT)
                END AS step
              FROM risk
            ),
            cumb AS (
              SELECT t, n,
                coalesce(sum(step) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS cb,
                coalesce(max(CASE WHEN step IS NULL THEN 1 ELSE 0
                             END) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS absorbed
              FROM steps
            ),
            terms AS (
              SELECT k, tc.t AS t, n AS n_at_risk, dk AS d_cause,
                (CASE WHEN absorbed = 1 THEN 0.0
                      ELSE exp(cb::DOUBLE / 1e9) END)
                  * (dk::DOUBLE / n::DOUBLE) AS inc
              FROM tc JOIN cumb ON tc.t = cumb.t
              WHERE k > 0
            )
            SELECT k AS cause, t, n_at_risk, d_cause,
              floor(sum(inc) OVER (PARTITION BY k ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1e6) / 1e6 AS cif_q6
            FROM terms
        """,
        "q_woolf": """
            WITH base AS (
              SELECT event_type AS s, CAST(user_id % 2 AS INT) AS arm,
                     CASE WHEN value > 150 THEN 1 ELSE 0 END AS o
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                AND value IS NOT NULL
            ),
            cells AS (
              SELECT s, count(*)::BIGINT AS n,
                sum(CASE WHEN arm = 1 AND o = 1 THEN 1 ELSE 0
                    END)::BIGINT AS a,
                sum(CASE WHEN arm = 1 AND o = 0 THEN 1 ELSE 0
                    END)::BIGINT AS b,
                sum(CASE WHEN arm = 0 AND o = 1 THEN 1 ELSE 0
                    END)::BIGINT AS c,
                sum(CASE WHEN arm = 0 AND o = 0 THEN 1 ELSE 0
                    END)::BIGINT AS d
              FROM base GROUP BY s
            ),
            f AS (
              SELECT s, n,
                ln((a::DOUBLE + 0.5) * (d::DOUBLE + 0.5)
                   / ((b::DOUBLE + 0.5) * (c::DOUBLE + 0.5))) AS lnor,
                1.0 / (1.0 / (a::DOUBLE + 0.5)
                       + 1.0 / (b::DOUBLE + 0.5)
                       + 1.0 / (c::DOUBLE + 0.5)
                       + 1.0 / (d::DOUBLE + 0.5)) AS w
              FROM cells
            ),
            step1 AS (
              SELECT s, lnor, w,
                sum(w) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS sw,
                sum(w * lnor) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS swl,
                sum(n) OVER () AS ntot,
                row_number() OVER (ORDER BY s) AS rn,
                count(*) OVER () AS k
              FROM f
            ),
            pooled AS (
              SELECT swl / sw AS pool, ntot AS ntot2, k AS kk
              FROM step1 WHERE rn = k
            ),
            step2 AS (
              SELECT kk, ntot2, pool,
                sum(w * (lnor - pool) * (lnor - pool))
                  OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY s) AS rn2,
                count(*) OVER () AS k2
              FROM step1, pooled
            )
            SELECT kk::BIGINT AS k_strata, ntot2::BIGINT AS n,
              floor(exp(pool) * 1e6) / 1e6 AS pooled_or_q6,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM step2 WHERE rn2 = k2
        """,
        "q_burrows": """
            WITH toks AS (
              SELECT source AS p, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tp AS (
              SELECT p, t, count(*)::BIGINT AS c
              FROM toks GROUP BY p, t
            ),
            totals AS (SELECT p, sum(c)::BIGINT AS tpn FROM tp GROUP BY p),
            topw AS (
              SELECT t FROM (
                SELECT t, sum(c)::BIGINT AS tot FROM tp GROUP BY t
              ) ORDER BY tot DESC, t ASC LIMIT 30
            ),
            grid AS (
              SELECT totals.p AS p, topw.t AS t, tpn
              FROM totals CROSS JOIN topw
            ),
            filled AS (
              SELECT grid.p AS p, grid.t AS t, tpn,
                coalesce(tp.c, 0)::DOUBLE / tpn::DOUBLE AS f
              FROM grid LEFT JOIN tp
                ON grid.p = tp.p AND grid.t = tp.t
            ),
            wstats AS (
              SELECT p, t, tpn, f,
                sum(f) OVER (PARTITION BY t ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sf,
                sum(f * f) OVER (PARTITION BY t ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sf2,
                row_number() OVER (PARTITION BY t ORDER BY p) AS rn,
                count(*) OVER (PARTITION BY t) AS k
              FROM filled
            ),
            per_word AS (
              SELECT t, sf / k::DOUBLE AS mean,
                sqrt(greatest(0.0, sf2 / k::DOUBLE
                     - (sf / k::DOUBLE) * (sf / k::DOUBLE))) AS sd
              FROM wstats WHERE rn = k
            ),
            z AS (
              SELECT filled.p AS p, filled.t AS t, tpn,
                CASE WHEN sd > 0 THEN abs((f - mean) / sd)
                     ELSE 0.0 END AS az
              FROM filled JOIN per_word ON filled.t = per_word.t
            ),
            stepped AS (
              SELECT p, tpn,
                sum(az) OVER (PARTITION BY p ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sz,
                row_number() OVER (PARTITION BY p ORDER BY t) AS rn,
                count(*) OVER (PARTITION BY p) AS kw
              FROM z
            )
            SELECT p AS part, tpn AS n_tokens,
              floor(sz / kw::DOUBLE * 1e6) / 1e6 AS delta_q6
            FROM stepped WHERE rn = kw
        """,
        "q_bowker": f"""
            WITH pairs AS (
              SELECT lang AS a, {_LANG_CASE} AS b
              FROM documents WHERE lang IS NOT NULL
            ),
            tot AS (SELECT count(*)::BIGINT AS n FROM pairs),
            cells AS (
              SELECT a, b, count(*)::BIGINT AS c
              FROM pairs WHERE a <> b GROUP BY a, b
            ),
            canon AS (
              SELECT least(a, b) AS i, greatest(a, b) AS j,
                sum(CASE WHEN a < b THEN c ELSE 0 END)::BIGINT AS nij,
                sum(CASE WHEN a > b THEN c ELSE 0 END)::BIGINT AS nji
              FROM cells GROUP BY least(a, b), greatest(a, b)
            ),
            stepped AS (
              SELECT n,
                sum((nij - nji)::DOUBLE * (nij - nji)::DOUBLE
                    / (nij + nji)::DOUBLE)
                  OVER (ORDER BY i, j ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY i, j) AS rn,
                count(*) OVER () AS k
              FROM canon, tot
            )
            SELECT n, k::BIGINT AS n_offdiag_pairs,
              floor(chi2 * 1e6) / 1e6 AS chi2_q6
            FROM stepped WHERE rn = k
        """,
        "q_hellinger": """
            WITH pooled AS (
              SELECT CAST(round(value * 10, 0) AS BIGINT) AS v,
                     CASE WHEN event_type = 'purchase' THEN 1
                          ELSE 0 END AS s
              FROM events
              WHERE event_type IN ('purchase', 'click')
                AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT v, ca, cb,
                sum(ca) OVER ()::BIGINT AS n_a,
                sum(cb) OVER ()::BIGINT AS n_b
              FROM cnt
            ),
            stepped AS (
              SELECT n_a, n_b,
                sum(sqrt((ca::DOUBLE / n_a::DOUBLE)
                         * (cb::DOUBLE / n_b::DOUBLE)))
                  OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS bc,
                row_number() OVER (ORDER BY v) AS rn,
                count(*) OVER () AS k
              FROM cum
            )
            SELECT n_a, n_b,
              floor(bc * 1e6) / 1e6 AS bc_q6,
              floor(sqrt(greatest(0.0, 1.0 - bc)) * 1e6) / 1e6
                AS hellinger_q6
            FROM stepped WHERE rn = k
        """,
        "q_mix_divergence": """
            WITH obs AS (
              SELECT lang AS grp, count(*)::BIGINT AS n
              FROM documents WHERE lang IS NOT NULL GROUP BY lang
            ),
            t AS (
              SELECT * FROM (VALUES ('de', 2), ('en', 4), ('es', 2),
                                    ('fr', 1), ('zh', 1)) x(grp, w)
            ),
            j AS (
              SELECT coalesce(obs.grp, t.grp) AS grp,
                coalesce(n, 0) AS n, w
              FROM obs FULL OUTER JOIN t ON obs.grp = t.grp
            ),
            tot AS (
              SELECT sum(CASE WHEN w IS NOT NULL THEN n END)::BIGINT
                       AS nm,
                coalesce(sum(CASE WHEN w IS NULL THEN n END),
                         0)::BIGINT AS nu
              FROM j
            ),
            cells AS (
              SELECT grp, n, w, nm, nu FROM j, tot WHERE w IS NOT NULL
            ),
            terms AS (
              SELECT grp, nm, nu,
                CASE WHEN n > 0 THEN
                  (n::DOUBLE / nm::DOUBLE)
                  * ln((n::DOUBLE / nm::DOUBLE) / (w::DOUBLE / 10.0))
                ELSE 0.0 END AS klt,
                abs(n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0) / 2.0
                  AS tvt,
                (n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0)
                  * (n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0)
                  / (w::DOUBLE / 10.0) AS c2t
              FROM cells
            ),
            stepped AS (
              SELECT nm, nu,
                sum(klt) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS kl,
                sum(tvt) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS tv,
                sum(c2t) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS c2,
                row_number() OVER (ORDER BY grp) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT nm AS n, k::BIGINT AS k_groups, nu AS n_unmatched,
              floor(kl * 1e6) / 1e6 AS kl_q6,
              floor(tv * 1e6) / 1e6 AS tv_q6,
              floor(c2 * 1e6) / 1e6 AS chi2n_q6
            FROM stepped WHERE rn = k
        """,
        "q_pack_efficiency": """
            WITH base AS (
              SELECT source, doc_id,
                length(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tok
              FROM documents
            ),
            p AS (
              SELECT source, doc_id, n_tok,
                     CAST(floor(coalesce(sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 2000.0) AS INTEGER) AS seq_idx
              FROM base
            ),
            per_seq AS (
              SELECT source, seq_idx, count(*)::BIGINT AS d,
                     sum(n_tok)::BIGINT AS t
              FROM p GROUP BY source, seq_idx
            ),
            agg AS (
              SELECT source, sum(d)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_seqs,
                sum(t)::BIGINT AS total_tokens,
                sum(CASE WHEN t > 2000 THEN 1 ELSE 0 END)::BIGINT
                  AS n_over,
                sum(CASE WHEN t < 2000 THEN 1 ELSE 0 END)::BIGINT
                  AS n_under
              FROM per_seq GROUP BY source
            )
            SELECT source, n_docs, n_seqs, total_tokens,
              floor(total_tokens::DOUBLE
                    / (n_seqs::DOUBLE * 2000.0) * 1e6) / 1e6
                AS fill_q6,
              n_over, n_under
            FROM agg
        """,
        "q_cucconi": """
            WITH pooled AS (
              SELECT CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v,
                     CASE WHEN c_mktsegment = 'BUILDING' THEN 1
                          ELSE 0 END AS s
              FROM customer
              WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            cum AS (
              SELECT ca, cb,
                coalesce(sum(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lo
              FROM cnt
            ),
            agg AS (
              SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
                sum(cb * (2 * lo + ca + cb + 1))::BIGINT AS sd1,
                sum(cb * (2 * lo + ca + cb + 1)
                       * (2 * lo + ca + cb + 1))::BIGINT AS sd2
              FROM cum
            ),
            f AS (
              SELECT n_a, n_b, n_a::DOUBLE AS na, n_b::DOUBLE AS nb,
                n_a::DOUBLE + n_b::DOUBLE AS nn,
                sd2::DOUBLE / 4.0 AS ss2, sd1::DOUBLE AS sd1d
              FROM agg
            ),
            m AS (
              SELECT n_a, n_b, na, nb, nn, ss2,
                nb * (nn + 1.0) * (nn + 1.0) - (nn + 1.0) * sd1d
                  + ss2 AS sc2,
                nb * (nn + 1.0) * (2.0 * nn + 1.0) AS mean0,
                sqrt(na * nb * (nn + 1.0) * (2.0 * nn + 1.0)
                     * (8.0 * nn + 11.0) / 5.0) AS den,
                2.0 * (nn * nn - 4.0)
                  / ((2.0 * nn + 1.0) * (8.0 * nn + 11.0)) - 1.0
                  AS rho
              FROM f
            ),
            uv AS (
              SELECT n_a, n_b, rho,
                (6.0 * ss2 - mean0) / den AS u,
                (6.0 * sc2 - mean0) / den AS v
              FROM m
            )
            SELECT n_a, n_b,
              floor(u * 1e6) / 1e6 AS u_q6,
              floor(v * 1e6) / 1e6 AS v_q6,
              floor((u * u + v * v - 2.0 * rho * u * v)
                    / (2.0 * (1.0 - rho * rho)) * 1e6) / 1e6 AS c_q6
            FROM uv
        """,
        "q_gwet": f"""
            WITH pairs AS (
              SELECT lang AS a, {_LANG_CASE} AS b
              FROM documents WHERE lang IS NOT NULL
            ),
            tot AS (
              SELECT count(*)::BIGINT AS n,
                sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT
                  AS agree
              FROM pairs
            ),
            m1 AS (SELECT a AS q, count(*)::BIGINT AS c1
                   FROM pairs GROUP BY a),
            m2 AS (SELECT b AS q, count(*)::BIGINT AS c2
                   FROM pairs GROUP BY b),
            marg AS (
              SELECT coalesce(m1.q, m2.q) AS q,
                coalesce(c1, 0) + coalesce(c2, 0) AS m
              FROM m1 FULL OUTER JOIN m2 ON m1.q = m2.q
            ),
            stepped AS (
              SELECT n, agree,
                sum((m::DOUBLE / (2.0 * n::DOUBLE))
                    * (1.0 - m::DOUBLE / (2.0 * n::DOUBLE)))
                  OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS pt,
                row_number() OVER (ORDER BY q) AS rn,
                count(*) OVER () AS k
              FROM marg, tot
            )
            SELECT n, k::BIGINT AS q_labels,
              floor(agree::DOUBLE / n::DOUBLE * 1e6) / 1e6 AS po_q6,
              CASE WHEN k > 1 THEN
                floor(pt / (k::DOUBLE - 1.0) * 1e6) / 1e6
              END AS pe_q6,
              CASE WHEN k > 1 AND pt / (k::DOUBLE - 1.0) < 1.0 THEN
                floor((agree::DOUBLE / n::DOUBLE
                       - pt / (k::DOUBLE - 1.0))
                      / (1.0 - pt / (k::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS ac1_q6
            FROM stepped WHERE rn = k
        """,
    }
    return out
