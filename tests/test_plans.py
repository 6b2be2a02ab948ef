"""Physical-plan regression tests: the plan properties that matter at 100 TB
are asserted, not just eyeballed — a refactor that silently adds a shuffle,
drops a broadcast, or un-prunes a scan fails here.
"""

import re

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig, gen_pandas
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.plans.extract_plan import (
    _final_turn_columns,
    job_output,
)
from png_from_pdf_extracter_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _transcripts(spark, tmp_path):
    # parquet-backed source: a Catalyst LocalRelation would be constant-
    # folded (filters evaluated at plan time), hiding the nodes under test
    tdf, _ = gen_pandas(GenConfig(n_convs=10))
    path = str(tmp_path / "transcripts")
    spark.createDataFrame(tdf, schema=TRANSCRIPTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def test_flagship_single_exchange_and_filter_before_shuffle(spark, tmp_path):
    df = extract_turns(
        spark,
        _transcripts(spark, tmp_path),
        JobParams(n_buckets=16, num_partitions=4),
    )
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    # whitelist evaluated below (before) the exchange: RLIKE appears after
    # the Exchange line in the tree dump (children print below parents)
    assert plan.index("Exchange") < plan.index("RLIKE")


def test_flagship_never_mode_no_shuffle(spark, tmp_path):
    df = extract_turns(
        spark,
        _transcripts(spark, tmp_path),
        JobParams(n_buckets=16, num_partitions=4, salt_mode="never"),
    )
    assert "Exchange" not in _plan(df)


def test_flagship_kernel_runs_once_on_text_only(spark, tmp_path):
    """The written table's plan evaluates Python exactly once: one eval
    node holding one call of the extraction UDF, whose only argument is
    ``text``. Every other column is derived in the JVM from its result,
    so no projection may re-run the kernel."""
    params = JobParams(n_buckets=16, num_partitions=4)
    df = _final_turn_columns(
        extract_turns(spark, _transcripts(spark, tmp_path), params), params
    )
    plan = _plan(df)
    assert len(re.findall(r"\b\w+EvalPython\b", plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    calls = re.findall(r"ArrowEvalPython \[(.*?)\], ", plan)
    assert len(calls) == 1 and re.fullmatch(
        r"extract\(text#\d+\)#\d+", calls[0]
    ), plan


def test_job_output_rebalances_by_bucket_above_the_kernel(spark, tmp_path):
    """The DataFrame ``run_job`` writes clusters rows by bucket with a
    rebalance exchange placed above the one Python eval, so the kernel
    still runs once per row; the salted exchange stays below it."""
    params = JobParams(n_buckets=16, num_partitions=4)
    plan = _plan(job_output(spark, _transcripts(spark, tmp_path), params))
    assert len(re.findall(r"\b\w+EvalPython\b", plan)) == 1, plan
    calls = re.findall(r"ArrowEvalPython \[(.*?)\], ", plan)
    assert len(calls) == 1 and re.fullmatch(
        r"extract\(text#\d+\)#\d+", calls[0]
    ), plan
    exchanges = [m.start() for m in re.finditer(r"\bExchange\b", plan)]
    rebalance = re.search(
        r"Exchange hashpartitioning\(partition_id#\d+, \d+\), "
        r"REBALANCE_PARTITIONS_BY_COL",
        plan,
    )
    assert len(exchanges) == 2 and rebalance, plan
    assert rebalance.start() < plan.index("ArrowEvalPython") < exchanges[1], plan


def test_join_topn_broadcasts_both_dims(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["q_join_topn"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_tpch_q1_pushdown_and_pruning(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["q_tpch_q1"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: comment column never read
    assert "l_comment" not in plan
    # map-side partial aggregation present
    assert "partial_sum" in plan


def test_minhash_signature_single_exchange(spark):
    from png_from_pdf_extracter_spark.functions.dedup import minhash_signatures

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_signatures(d, "doc_id", "text"))
    assert plan.count("Exchange") == 1, plan


def test_minhash_lsh_pairs_joinless(spark):
    """Round-2 plan: signature = ONE id-keyed aggregation (8 min columns),
    candidates from bucket aggregate + direct pair emission — no join
    operator of any kind may appear."""
    from png_from_pdf_extracter_spark.functions.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = minhash_lsh_pairs(d, "doc_id", "text")
    out.write.format("noop").mode("overwrite").save()
    plan = _plan(out)
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node
    # three exchanges: signature agg, bucket agg, final distinct
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_ngram_jaccard_no_selfjoin_and_broadcast_sizes(spark):
    """Round-2 plan: no shingle self-join (pair emission from grouped id
    lists); the small per-doc sizes side must broadcast into the final
    joins, never sort-merge."""
    from png_from_pdf_extracter_spark.functions import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)
    out.write.format("noop").mode("overwrite").save()
    plan = _plan(out)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    dedup.release(out)


def test_contamination_benchmark_side_broadcast(spark):
    """The benchmark shingle table must broadcast — the corpus side never
    shuffles for the join."""
    from png_from_pdf_extracter_spark.functions.dedup import contamination_check

    d = spark.read.parquet(f"{SF}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    out = contamination_check(d, bench, "doc_id", "text", n=2)
    out.write.format("noop").mode("overwrite").save()
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_resume_antijoin_is_broadcast(spark, tmp_path):
    from png_from_pdf_extracter_spark.operators import (
        completed_partitions,
        pending_only,
    )
    from png_from_pdf_extracter_spark.plans.metrics import METRICS_SCHEMA
    from png_from_pdf_extracter_spark.sources.transcripts import with_partition_id

    t = with_partition_id(_transcripts(spark, tmp_path), 16)
    metrics = spark.createDataFrame([], METRICS_SCHEMA)
    pending = pending_only(t, completed_partitions(metrics, "0.1.0"))
    plan = _plan(pending)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan


def test_warehouse_partition_pruning(spark, tmp_path):
    """A bucket-filtered read of the hive-partitioned warehouse must prune
    at the partition level (scan only the matching partition_id dirs) —
    this is what makes per-bucket re-extraction and downstream
    bucket-scoped queries O(bucket), not O(table)."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    catalog = Catalog(str(tmp_path / "wh"))
    df = (
        spark.range(0, 1000)
        .selectExpr(
            "concat('c', id % 7) AS conv_id",
            "cast(id % 16 AS int) AS partition_id",
            "cast(id AS string) AS payload",
        )
    )
    df.write.partitionBy("partition_id").parquet(catalog.path("t"))

    got = catalog.read(spark, "t").filter(F.col("partition_id") == 3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(partition_id" in plan, plan
    # partition filter must NOT degrade to a post-scan data filter
    assert "PushedFilters: [IsNotNull(partition_id)" not in plan, plan
    assert got.count() == len([i for i in range(1000) if i % 16 == 3])


def test_duplicate_spans_window_shape(spark):
    """ExactSubstr spans: window enumeration is map-side (no join to a
    position table), the occurrence count is ONE hash aggregate, and the
    only join is the hash-group equi-join back — no nested-loop or
    cartesian anywhere."""
    from png_from_pdf_extracter_spark.functions.dedup import duplicate_spans

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(duplicate_spans(d, window=8))
    for node in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, node
    assert "partial_count" in plan  # map-side combine on the hash group


def test_bm25_takeordered_no_global_window(spark):
    """BM25 top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k), never a single-partition global sort/window over the
    full match set; the df and scalar sides must broadcast."""
    from png_from_pdf_extracter_spark.functions.search import bm25_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(bm25_topk(d, ["vector", "stream"], top_k=10))
    assert "TakeOrderedAndProject" in plan, plan
    # a global sort would show as a rangepartitioning exchange
    assert "Exchange rangepartitioning" not in plan, plan
    # the only single-partition exchange allowed is the one-ROW (N, avgdl)
    # scalar aggregate; the match set itself must never funnel to one task
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_embed_covariance_single_pass_no_smj(spark):
    """One corpus pass (a single MapInPandas node feeding the persisted
    dim^2 aggregate) and every post-aggregate join broadcast — the
    O(dim^2)-shuffle-keys contract of embedding_covariance."""
    from png_from_pdf_extracter_spark.functions import dedup, similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.embedding_covariance(e)
    plan = _plan(df)
    # the four consumers (count / means as sx1 / means as sx2 / gram) all
    # read the PERSISTED dim^2 aggregate — the corpus scan + BLAS pass
    # materializes once at runtime even though each InMemoryTableScan
    # prints its lineage
    assert plan.count("InMemoryTableScan") == 4, plan
    assert "SortMergeJoin" not in plan, plan
    dedup.release(df)


def test_kmeans_assignment_map_only(spark):
    """After centroid training, the per-row cluster assignment is a pure
    map-side projection — no Exchange in the returned plan (the folded
    centroid constant travels with the task, not through a shuffle)."""
    from png_from_pdf_extracter_spark.functions import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(
        similarity.kmeans_assign(e, n_clusters=4, iterations=1)
    )
    assert "Exchange" not in plan, plan


def test_pmi_and_chi2_takeordered_broadcast_only(spark):
    """Quantized top-k compiles to TakeOrderedAndProject (per-partition
    partial top-k, no global sort) and all dictionary joins broadcast."""
    import __spark_entry__ as em

    for q in ("q_pmi_bigrams", "q_chi2_terms"):
        plan = _plan(em.queries()[q](spark, SF))
        assert "TakeOrderedAndProject" in plan, (q, plan)
        assert "SortMergeJoin" not in plan, (q, plan)


def test_edit_distance_block_join_is_equi(spark):
    """The blocked candidate join must be an EQUI join on the prefix key
    — never a cartesian/nested-loop all-pairs plan."""
    from png_from_pdf_extracter_spark.functions import dedup

    p = spark.read.parquet(f"{SF}/part.parquet")
    plan = _plan(
        dedup.edit_distance_pairs(p, "p_partkey", "p_name")
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_event_transitions_totals_broadcast(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["q_event_transitions"](spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_triangle_and_jaccard_prefix_no_allpairs(spark):
    """The hub-safe graph/set-similarity operators must plan as EQUI
    joins only — a cartesian or nested-loop node means the orientation /
    prefix filter silently stopped driving candidate generation."""
    import __spark_entry__ as em
    from png_from_pdf_extracter_spark.functions import dedup

    for k in ("q_triangles", "q_jaccard_prefix"):
        df = em.queries()[k](spark, SF)
        plan = _plan(df)
        assert "CartesianProduct" not in plan, (k, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (k, plan)
        dedup.release(df)


def test_jaccard_prefix_shingles_cached_once(spark):
    """The shingle table feeds four consumers; the plan must read the
    persisted copy (InMemoryTableScan), not re-tokenize the corpus."""
    from png_from_pdf_extracter_spark.functions import dedup

    d = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup.jaccard_prefix_join(d, "doc_id", "text")
    plan = _plan(out)
    assert "InMemoryTableScan" in plan, plan
    dedup.release(out)


def test_skew_report_single_width_window(spark):
    """skew_report's rank window must run over the aggregated key table
    (input to Window is a HashAggregate), never the raw rows."""
    from png_from_pdf_extracter_spark.operators.salting import skew_report

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(skew_report(ev, "user_id", ("event_type",)))
    assert "Window" in plan, plan
    # children print below parents: a (group,key) HashAggregate must sit
    # BELOW the window node (= the window's input is the aggregated key
    # table, evaluated first)
    below_window = plan[plan.index("Window"):]
    assert "HashAggregate" in below_window, plan


def test_calibration_bins_single_aggregate(spark):
    """One combinable aggregation pass — no window, no join."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        calibration_bins,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        calibration_bins(
            d, F.length("text") / 10000.0, F.col("doc_id") % 2
        )
    )
    assert "Window" not in plan and "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_chunk_sliding_zero_shuffles(spark):
    """Map-side chunker: tokenize -> sequence -> explode -> slice with
    NO exchange — the chunk table inherits the corpus partitioning."""
    from png_from_pdf_extracter_spark.functions import curate

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(curate.chunk_sliding(d))
    assert "Exchange" not in plan, plan


def test_scalar_quantize_map_only(spark):
    from png_from_pdf_extracter_spark.functions.similarity import (
        scalar_quantize,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(scalar_quantize(e))
    assert "Exchange" not in plan and "Join" not in plan, plan


def test_ewma_single_shuffle_no_python(spark):
    """ewma is one groupBy exchange and stays JVM-side (no Python/Arrow
    eval nodes): the fold is F.aggregate over a collected array."""
    from png_from_pdf_extracter_spark.operators.temporal import ewma

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(ewma(ev, ("user_id",), ("ts", "event_id"), "value"))
    assert plan.count("Exchange") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_kmv_distinct_before_window_bounds_state(spark):
    """kmv_build must collapse to DISTINCT (group, hash) pairs BEFORE
    the rank window: the partial aggregate bounds shuffle state by
    cardinality, and the window then keeps only k rows per group. A
    raw-row window here would sort the whole corpus."""
    from png_from_pdf_extracter_spark.functions.sketch import kmv_build

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(kmv_build(ev, "user_id", ("event_type",), k=64))
    # dedup aggregate appears before the window sort in the plan text
    # (children print below parents: window first textually)
    assert "HashAggregate" in plan and "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_cooccur_no_cartesian_and_broadcast_totals(spark):
    """cooccur_lift's pair generation must be an equi-join on the
    basket key (never a cartesian/theta join) and the scalar totals a
    broadcast."""
    from png_from_pdf_extracter_spark.functions.itemsets import (
        cooccur_lift,
    )

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("it")
    )
    plan = _plan(cooccur_lift(li, "bk", "it"))
    assert "CartesianProduct" not in plan, plan
    # the pair join is an equi-join keyed on the basket column (AQE may
    # pick broadcast-hash at small scale; the key is what matters)
    assert (
        "Join [__bk" in plan
        or "HashJoin [__bk" in plan
        or "SortMergeJoin [__bk" in plan
    ), plan


def test_quantile_normalize_anchor_join_is_broadcast(spark):
    """quantile_normalize joins every corpus row to the B+1-row anchor
    table: that join must be a broadcast, never a shuffle of the
    corpus on the anchor index."""
    from png_from_pdf_extracter_spark.functions.drift import (
        quantile_normalize,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        quantile_normalize(d, "source", "doc_id", "n_chars", anchors=32)
    )
    assert "BroadcastHashJoin" in plan, plan


def test_negative_sample_antijoin_and_rank_share_anchor_key(spark):
    """negative_sample: candidate explode is map-side; the positive
    exclusion is an anti-join; no cartesian anywhere."""
    from png_from_pdf_extracter_spark.functions.curate import (
        negative_sample,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = d.select(
        F.col("doc_id").alias("anchor_id"),
        ((F.col("doc_id") + 1) % 50).alias("pos_id"),
    )
    plan = _plan(negative_sample(pairs, n_items=50, k=4))
    assert "Generate explode" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_cosine_pairs_join_on_term_key(spark):
    """tfidf_cosine_pairs: the pair generation must be an equi-join on
    the TERM posting key — never a cartesian; norms/dots are
    map-combinable aggregates."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        tfidf_cosine_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tfidf_cosine_pairs(d))
    assert "CartesianProduct" not in plan, plan
    assert "partial" in plan.lower(), plan


def test_apply_dedup_best_antijoin_and_no_corpus_shuffle_for_scores(spark):
    """apply_dedup_best: the corpus exits through a LEFT ANTI join
    against the loser set; scores join the dup-member table, not the
    other way around."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        apply_dedup_best,
        release,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id1 long, id2 long")
    out = apply_dedup_best(d, pairs, "n_chars")
    plan = _plan(out)
    release(out)
    assert "LeftAnti" in plan, plan


def test_keyness_g2_broadcasts_totals_only(spark):
    """keyness_g2: the single-row totals frame is broadcast; the term
    table never broadcasts and never cartesian-joins anything bigger
    than that one row."""
    from png_from_pdf_extracter_spark.functions.lm import keyness_g2

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(keyness_g2(d, "lang", "en", min_count=1, top_k=10))
    assert "CartesianProduct" not in plan
    # top-k is a TakeOrdered, not a global sort + limit
    assert "TakeOrderedAndProject" in plan, plan


def test_jl_project_is_shuffle_free(spark):
    """jl_project must stay MAP-ONLY: no Exchange, no UDF — the whole
    projection is codegen'd array folds plus a posexplode."""
    from png_from_pdf_extracter_spark.functions.similarity import jl_project

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(jl_project(e, out_dim=4))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, plan


def test_link_prediction_no_cartesian_and_cap_below_wedge_join(spark):
    """link_prediction_scores: the wedge join must be an equi-join on
    the pivot key, never a cartesian, and the hub-degree cap filter
    must sit BELOW the wedge join (pivots dropped before fan-out)."""
    from png_from_pdf_extracter_spark.functions.graph import (
        link_prediction_scores,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 300).alias("dst"),
    )
    plan = _plan(link_prediction_scores(edges, max_hub_degree=100))
    assert "CartesianProduct" not in plan, plan
    # the cap predicate appears in the tree below (after) the last join
    assert plan.rindex("Join") < plan.rindex("100"), plan


def test_conformal_window_over_value_table(spark):
    """conformal_threshold: the rank-reach window runs over the
    aggregated distinct-value table (HashAggregate below the Window),
    never over raw rows."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        conformal_threshold,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(conformal_threshold(ev, "value", ("event_type",)))
    # children print below parents: the (group, value) count aggregate
    # must appear BELOW (after) the windows in the tree dump
    assert plan.rindex("Window") < plan.rindex("HashAggregate"), plan


def test_heavy_hitters_exact_count_joins_broadcast_candidates(spark):
    """heavy_hitters: the verify phase counts ONLY rows matching the
    broadcast candidate list — a BroadcastHashJoin must sit in the
    plan, and the MG candidate stage is a zero-shuffle mapInPandas
    (no Exchange between scan and the python fan-in)."""
    from png_from_pdf_extracter_spark.functions.sketch import heavy_hitters

    d = spark.read.parquet(f"{SF}/documents.parquet")
    occ = d.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.col("text")), r"\s+"),
                lambda x: F.length(x) > 0,
            )
        ).alias("word")
    )
    plan = _plan(heavy_hitters(occ, "word", threshold_frac=0.01))
    assert "BroadcastHashJoin" in plan, plan
    # MG summary runs map-side: the python eval feeds the join build
    # side without an exchange above the scan on its branch
    assert "MapInPandas" in plan, plan


def test_naive_bayes_models_broadcast_to_predict(spark):
    """naive_bayes_predict: both the word model and the label model
    reach the scoring join as broadcasts — the corpus side never
    shuffles for the model."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        naive_bayes_predict,
        naive_bayes_train,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        "lang",
        F.filter(
            F.split(F.trim(F.col("text")), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("toks"),
    )
    wm, lm = naive_bayes_train(d, "toks", "lang")
    plan = _plan(naive_bayes_predict(d, "doc_id", "toks", wm, lm))
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # k-row label fan


def test_label_propagation_pregel_no_cartesian(spark):
    """label_propagation: every round is equi-join + aggregate on the
    node key — no cartesian product anywhere in 3 unrolled rounds."""
    from png_from_pdf_extracter_spark.functions.graph import (
        label_propagation,
    )

    o = spark.read.parquet(f"{SF}/orders.parquet")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 1500).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    c = spark.read.parquet(f"{SF}/customer.parquet")
    seeds = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("node"),
        F.col("c_mktsegment").alias("label"),
    )
    plan = _plan(label_propagation(edges, seeds, rounds=3))
    assert "CartesianProduct" not in plan, plan


def test_prf_rerank_second_pass_terms_broadcast(spark):
    """prf_rerank: the expanded term set reaches the second BM25 pass
    as a broadcast build side (never a shuffled join against the
    exploded corpus), and no driver collect exists — the whole loop is
    one plan."""
    from png_from_pdf_extracter_spark.functions.search import prf_rerank

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(
        prf_rerank(d, ["vector", "stream"], fb_docs=5, n_expansion=3,
                   max_df_frac=1.0, top_k=5)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_token_wer_vocab_broadcast_no_cartesian(spark):
    """token_edit_distance_pairs: the token->char vocabulary reaches
    the encode join as a broadcast; no cartesian anywhere."""
    from png_from_pdf_extracter_spark.functions.dedup import (
        token_edit_distance_pairs,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: F.length(x) > 0,
        ).alias("toks"),
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    )
    plan = _plan(token_edit_distance_pairs(d, pairs, "doc_id", "toks"))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_partition_agreement_margins_broadcast(spark):
    """partition_agreement: the margin/index pair-count aggregates and
    totals all reach the final row as broadcasts of 1-row frames."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        partition_agreement,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(partition_agreement(d, "lang", "source"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_average_precision_single_group_exchange(spark):
    """average_precision: one exchange on the group key; both windows
    share it (no second shuffle for the rank-order accumulation)."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        average_precision,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "source", "doc_id", (F.col("n_chars") > 500).cast("int").alias("y"),
        F.col("n_chars").alias("score"),
    )
    plan = _plan(
        average_precision(d, "score", "y", "doc_id", ("source",))
    )
    import re

    exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert exchanges <= 2, plan


def test_rake_top_k_is_take_ordered_not_global_window(spark):
    """rake_keyphrases: the top-k cut plans as TakeOrderedAndProject
    (partial per-partition top-k), never a single-partition window
    over every distinct phrase."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        rake_keyphrases,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(rake_keyphrases(d, top_k=15))
    assert "TakeOrderedAndProject" in plan, plan


def test_ql_topk_term_set_broadcast_and_take_ordered(spark):
    """ql_topk: the query-term set joins the exploded corpus as a
    BROADCAST (never shuffling the token stream against 3 terms) and
    the top-k cut is TakeOrderedAndProject."""
    from png_from_pdf_extracter_spark.functions.search import ql_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ql_topk(d, ["vector", "stream", "merge"], top_k=10))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_graph_profile_reuses_triangle_cache(spark):
    """graph_profile: the triangle pipeline's persisted oriented edge
    list is propagated for dedup.release — the profile must expose the
    cached-deps contract attribute."""
    from png_from_pdf_extracter_spark.functions.graph import graph_profile

    o = spark.read.parquet(f"{SF}/orders.parquet")
    edges = o.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 97).alias("dst"),
    )
    prof = graph_profile(edges)
    cached = getattr(prof, "_spark_graft_cached", None)
    assert cached, "triangle cache not propagated"
    for c in cached:
        c.unpersist()


def test_linear_cka_dim2_shuffle_not_rows(spark):
    """linear_cka: the shuffle after the partial-gram mapInPandas is
    keyed by (d1, d2) — hashpartitioning on the dim pair, never on a
    row id — so the exchanged volume is O(dim^2), not O(n)."""
    from png_from_pdf_extracter_spark.functions.similarity import linear_cka

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qz = lambda c: F.round(c.cast("double") * 1000, 0).cast("long")  # noqa: E731
    d = e.select(
        F.transform(F.col("embedding"), lambda v: qz(v)).alias("xq"),
        F.transform(F.col("embedding"), lambda v: qz(v)).alias("yq"),
    )
    out = linear_cka(d, "xq", "yq")
    plan = _plan(out)
    assert "hashpartitioning(d1" in plan, plan
    for c in getattr(out, "_spark_graft_cached", []):
        c.unpersist()


def test_juilland_take_ordered_top_k(spark):
    """juilland_dispersion: the top-k cut is TakeOrderedAndProject,
    never a global single-partition sort of the vocabulary."""
    from png_from_pdf_extracter_spark.functions.keywords import (
        juilland_dispersion,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(juilland_dispersion(d, "source", "text", top_k=20))
    assert "TakeOrderedAndProject" in plan, plan


def test_lift_table_single_global_window(spark):
    """lift_table: ntile needs ONE global-sort window (the documented
    trade-off) and nothing else joins — exactly the windows expected,
    no SortMergeJoin."""
    from png_from_pdf_extracter_spark.functions.evalmetrics import (
        lift_table,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 2).alias("y"),
        (F.col("n_chars")).cast("double").alias("score"),
    )
    plan = _plan(lift_table(d, "score", "y", "doc_id", 10))
    assert "SortMergeJoin" not in plan, plan
    assert "ntile" in plan or "Window" in plan, plan
