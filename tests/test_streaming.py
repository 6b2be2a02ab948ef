"""Structured Streaming surface: same kernel, daemon-loop semantics.

- availableNow drain produces byte-identical per-turn output to the batch
  plan (one code path, two drivers).
- checkpoint restart processes only new input (no dupes, no gaps) — the
  streaming twin of the lineage-table resume test.
- windowed rates aggregate matches a batch groupBy over the same data.
"""

import os

import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.sources import generate_transcripts
from png_from_pdf_extracter_spark.streaming import (
    stream_extract,
    stream_turn_rates,
)

PARAMS = JobParams(n_buckets=16, num_partitions=4)


def _drain(spark, in_dir, out_dir, ckpt):
    q = (
        stream_extract(spark, in_dir, PARAMS)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    d = {
        "in": str(root / "in"),
        "out": str(root / "out"),
        "ckpt": str(root / "ckpt"),
    }
    os.makedirs(d["in"], exist_ok=True)
    return d


def test_stream_matches_batch(spark, dirs):
    gcfg = GenConfig(seed=7, n_convs=30)
    generate_transcripts(spark, gcfg).write.mode("append").parquet(dirs["in"])

    _drain(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    streamed = spark.read.parquet(dirs["out"]).select(
        "conv_id", "turn_idx", "status", "extracted_text"
    )
    batch = extract_turns(
        spark, spark.read.parquet(dirs["in"]), PARAMS
    ).select(
        "conv_id",
        "turn_idx",
        F.col("status").alias("b_status"),
        F.col("extracted_text").alias("b_text"),
    )
    joined = streamed.join(batch, ["conv_id", "turn_idx"], "full_outer")
    n = joined.count()
    assert n == streamed.count() == batch.count()
    mismatches = joined.filter(
        (F.col("status") != F.col("b_status"))
        | ~F.col("extracted_text").eqNullSafe(F.col("b_text"))
    ).count()
    assert mismatches == 0


def test_stream_restart_no_dupes_no_gaps(spark, dirs):
    before = spark.read.parquet(dirs["out"]).count()

    gcfg2 = GenConfig(seed=8, n_convs=10)
    extra = generate_transcripts(spark, gcfg2).withColumn(
        "conv_id", F.concat(F.lit("late-"), F.col("conv_id"))
    )
    n_new_expected = extra.filter(
        F.col("role").rlike(PARAMS.role_whitelist)
    ).count()
    extra.write.mode("append").parquet(dirs["in"])

    _drain(spark, dirs["in"], dirs["out"], dirs["ckpt"])

    out = spark.read.parquet(dirs["out"])
    assert out.count() == before + n_new_expected
    dupes = (
        out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1)
    ).count()
    assert dupes == 0


def test_stream_turn_rates_match_batch(spark, dirs, tmp_path):
    q = (
        stream_turn_rates(
            stream_extract(spark, dirs["in"], PARAMS), "10 minutes"
        )
        .writeStream.format("memory")
        .queryName("rates")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_rates"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r["window_start"], r["status"]): r["n_turns"]
        for r in spark.sql("select * from rates").collect()
    }
    batch = extract_turns(spark, spark.read.parquet(dirs["in"]), PARAMS)
    want = {
        (r["ws"], r["status"]): r["n"]
        for r in (
            batch.groupBy(
                F.window("ts", "10 minutes").alias("w"), "status"
            )
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "status", "n")
        ).collect()
    }
    assert got == want


def test_stream_extract_to_catalog_lineage_and_restart(spark, tmp_path):
    """Streaming twin of run_job's commit protocol: data lands partitioned
    by batch_id (replay-idempotent), lineage rows are batch-stamped, and a
    checkpointed restart with no new input adds nothing."""
    from png_from_pdf_extracter_spark.datagen import GenConfig
    from png_from_pdf_extracter_spark.plans import JobParams
    from png_from_pdf_extracter_spark.sources import generate_transcripts
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

    in_dir = str(tmp_path / "in")
    generate_transcripts(spark, GenConfig(n_convs=12)).write.parquet(in_dir)
    cat = Catalog(str(tmp_path / "wh"))
    params = JobParams(n_buckets=8)
    ckpt = str(tmp_path / "ckpt")

    q = stream_extract_to_catalog(spark, in_dir, cat, params, ckpt)
    q.awaitTermination(300)
    out = cat.read(spark, "extracted_turns_stream")
    n1 = out.count()
    assert n1 > 0
    assert "batch_id" in out.columns
    m = cat.read(spark, "extract_metrics_stream")
    assert m.count() > 0 and "batch_id" in m.columns
    # lineage row counts must reconcile with the data
    assert m.agg({"rows": "sum"}).collect()[0][0] == n1

    # restart with the same checkpoint and no new input: nothing new
    q2 = stream_extract_to_catalog(spark, in_dir, cat, params, ckpt)
    q2.awaitTermination(300)
    assert cat.read(spark, "extracted_turns_stream").count() == n1


def test_stream_extract_to_catalog_keeps_every_batch_under_static_mode(
    spark, tmp_path
):
    """Each micro-batch must overwrite only its own partitions even when
    the session's overwrite mode is STATIC, the default of a fresh
    ``jobs/run_stream.py`` process. Micro-batches run in the query's own
    copy of the session, so the mode has to ride on the write itself."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

    key = "spark.sql.sources.partitionOverwriteMode"
    in_dir = str(tmp_path / "in")
    # 12 files at the default 8 files per trigger: two micro-batches
    src = generate_transcripts(spark, GenConfig(seed=3, n_convs=24))
    src.repartition(12).write.parquet(in_dir)
    want = {
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(in_dir)
        .filter(F.col("role").rlike(PARAMS.role_whitelist))
        .collect()
    }
    cat = Catalog(str(tmp_path / "wh"))
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        q = stream_extract_to_catalog(
            spark, in_dir, cat, PARAMS, str(tmp_path / "ckpt")
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set(key, before)
    out = cat.read(spark, "extracted_turns_stream")
    assert out.select("batch_id").distinct().count() >= 2
    assert {(r["conv_id"], r["turn_idx"]) for r in out.collect()} == want


def test_stream_lineage_replay_rewrites_its_own_rows(spark, tmp_path):
    """A crash after a micro-batch's lineage write but before its
    checkpoint commit replays that batch on restart. The replay must
    rewrite the batch's lineage rows, not add a second copy of them."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

    in_dir = str(tmp_path / "in")
    # 12 files at the default 8 files per trigger: two micro-batches
    generate_transcripts(spark, GenConfig(seed=5, n_convs=12)).repartition(
        12
    ).write.parquet(in_dir)
    cat = Catalog(str(tmp_path / "wh"))
    ckpt = tmp_path / "ckpt"
    cols = [
        "batch_id", "partition_id", "rows", "bytes", "n_errors", "digest",
        "conv_id_min", "conv_id_max",
    ]

    def lineage():
        m = cat.read(spark, "extract_metrics_stream").select(*cols)
        return sorted(map(tuple, m.collect()))

    stream_extract_to_catalog(spark, in_dir, cat, PARAMS, str(ckpt)).awaitTermination(300)
    want = lineage()
    assert len({r[:2] for r in want}) == len(want) > 0

    last = max((ckpt / "commits").glob("[0-9]*"), key=lambda f: int(f.name))
    for f in (last, last.with_name(f".{last.name}.crc")):
        f.unlink(missing_ok=True)
    stream_extract_to_catalog(spark, in_dir, cat, PARAMS, str(ckpt)).awaitTermination(300)
    assert (ckpt / "commits" / last.name).exists(), "the batch was not replayed"
    assert lineage() == want


def test_stream_extract_schema_matches_batch(spark, tmp_path):
    """Batch and stream end with the same projection, so they return the
    same columns with the same types."""
    in_dir = str(tmp_path / "in")
    generate_transcripts(spark, GenConfig(n_convs=2)).write.parquet(in_dir)
    batch = extract_turns(spark, spark.read.parquet(in_dir), PARAMS)
    assert stream_extract(spark, in_dir, PARAMS).schema == batch.schema


def test_stream_profile_incremental_and_idempotent(spark, tmp_path):
    """Per-batch partial states merge to the exact batch-side profile,
    absorb a second batch incrementally, and a checkpointed re-run with
    no new input changes nothing."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import (
        read_profile,
        stream_profile_to_catalog,
    )
    from png_from_pdf_extracter_spark.functions import incremental

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def drain():
        q = stream_profile_to_catalog(
            spark, in_dir, catalog, ckpt, "event_type", "value"
        )
        q.awaitTermination()

    def live():
        return {
            r["event_type"]: r
            for r in read_profile(spark, catalog, "event_type").collect()
        }

    def batch_direct(df):
        return {
            r["event_type"]: r
            for r in incremental.finalize_profile(
                incremental.partial_profile(df, "event_type", "value"),
                "event_type",
            ).collect()
        }

    first = ev.filter(F.col("event_id") % 2 == 0)
    first.write.mode("append").parquet(in_dir)
    drain()
    assert live() == batch_direct(first)

    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(
        in_dir
    )
    drain()
    after_two = live()
    assert after_two == batch_direct(ev)

    drain()  # no new files: nothing changes
    assert live() == after_two


def test_stream_static_enrich(spark, tmp_path):
    """Stream-static join: every streamed row picks up its dim attributes;
    unmatched keys survive a left join with nulls; the plan is stateless
    (no watermark needed); right/full joins are rejected up front."""
    from png_from_pdf_extracter_spark.streaming import stream_static_enrich

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    gcfg = GenConfig(seed=11, n_convs=20)
    base = generate_transcripts(spark, gcfg)
    base.write.mode("append").parquet(in_dir)

    # dim covers only half the conversations -> left join must null-fill
    dim = (
        base.select("conv_id")
        .distinct()
        .filter(F.abs(F.hash("conv_id")) % 2 == 0)
        .withColumn("cohort", F.lit("A"))
    )

    stream = spark.readStream.schema(base.schema).parquet(in_dir)
    q = (
        stream_static_enrich(stream, dim, "conv_id")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(out_dir)
    assert got.count() == base.count()  # left join: nothing dropped
    matched = got.filter(F.col("cohort").isNotNull()).select("conv_id").distinct()
    assert matched.count() == dim.count()

    with pytest.raises(ValueError, match="inner/left"):
        stream_static_enrich(stream, dim, "conv_id", how="full")


def test_stream_drift_monitor_scores_batches_and_is_idempotent(
    spark, tmp_path
):
    """Each micro-batch gets a PSI report vs the static reference
    (batch drawn FROM the reference scores ~0; a shifted batch scores
    high), and a checkpointed re-drain with no new input rewrites
    nothing new."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import stream_drift_monitor

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    reference = ev.select("event_type", "value")

    def drain():
        q = stream_drift_monitor(
            spark, in_dir, reference, catalog, ckpt, "event_type", "value"
        )
        q.awaitTermination()

    # batch 0: an unbiased half of the reference itself -> stable PSI
    ev.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "value"
    ).write.mode("append").parquet(in_dir)
    drain()
    rep = spark.read.parquet(catalog.path("drift_reports"))
    r0 = {r["event_type"]: r["psi"] for r in
          rep.filter(F.col("batch_id") == 0).collect()}
    assert r0 and all(v < 0.1 for v in r0.values())

    # batch 1: values shifted far right -> flagged
    ev.filter(F.col("event_id") % 2 == 1).select(
        "event_type", (F.col("value") + 500).alias("value")
    ).write.mode("append").parquet(in_dir)
    drain()
    rep = spark.read.parquet(catalog.path("drift_reports"))
    r1 = {r["event_type"]: r["psi"] for r in
          rep.filter(F.col("batch_id") == 1).collect()}
    assert r1 and all(v > 0.25 for v in r1.values())

    # re-drain with no new input: report table unchanged
    n_before = rep.count()
    drain()
    assert spark.read.parquet(
        catalog.path("drift_reports")
    ).count() == n_before


def test_stream_kmv_monitor_merges_to_whole_corpus_sketch(spark, tmp_path):
    """Per-batch KMV partials merge to the IDENTICAL estimate the batch
    sketch gives on the whole drained input, and a checkpointed
    re-drain with no new input changes nothing (replay-idempotent
    batch_id partitions)."""
    from png_from_pdf_extracter_spark.functions.sketch import (
        kmv_build,
        kmv_estimate,
    )
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming.extract_stream import (
        read_kmv_distinct,
        stream_kmv_monitor,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

    def drain():
        q = stream_kmv_monitor(
            spark, in_dir, catalog, ckpt, "user_id", ("event_type",), k=32
        )
        q.awaitTermination()

    # two arrivals -> two micro-batches with overlapping user sets
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(
        in_dir
    )
    drain()
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(
        in_dir
    )
    drain()

    streamed = {
        r["event_type"]: (r["n_seen"], r["est_distinct"])
        for r in read_kmv_distinct(
            spark, catalog, ("event_type",), k=32
        ).collect()
    }
    whole = {
        r["event_type"]: (r["n_seen"], r["est_distinct"])
        for r in kmv_estimate(
            kmv_build(
                spark.read.parquet(in_dir), "user_id", ("event_type",), 32
            ),
            ("event_type",),
            32,
        ).collect()
    }
    assert streamed == whole and streamed

    # replay-idempotence: re-drain with no new input, state unchanged
    state = catalog.path("kmv_state")
    before = spark.read.parquet(state).count()
    drain()
    assert spark.read.parquet(state).count() == before


def test_stream_cusum_monitor_folds_to_batch_answer(spark, tmp_path):
    """CUSUM is order-sensitive, so arrivals are TIME-split (first half
    of the timeline, then the rest): the folded per-batch states must
    land exactly on the batch cusum_drift over the whole drained input,
    alarms included; a checkpointed re-drain with no new input changes
    nothing (replay-idempotent batch_id partitions)."""
    from png_from_pdf_extracter_spark.functions.stats import cusum_drift
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming.extract_stream import (
        read_cusum_alarms,
        stream_cusum_monitor,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cut = F.lit("2024-01-16").cast("timestamp")

    def drain():
        q = stream_cusum_monitor(
            spark, in_dir, catalog, ckpt,
            ("event_type",), ("ts", "event_id"), "value",
            target_q=25_000, slack_q=500,
        )
        q.awaitTermination()

    ev.filter(F.col("ts") < cut).write.mode("append").parquet(in_dir)
    drain()
    ev.filter(F.col("ts") >= cut).write.mode("append").parquet(in_dir)
    drain()

    folded = {
        r["event_type"]: (r["cusum_q"], r["alarm"])
        for r in read_cusum_alarms(
            spark, catalog, ("event_type",), threshold_q=100_000
        ).collect()
        if r["batch_id"] == 1
    }
    whole = {
        r["event_type"]: r["cusum_q"]
        for r in cusum_drift(
            spark.read.parquet(in_dir),
            ("event_type",), ("ts", "event_id"), "value",
            target_q=25_000, slack_q=500,
        ).orderBy("idx").collect()
    }  # dict keeps the LAST row per group (ascending idx)
    assert folded and set(folded) == set(whole)
    for g, (cq, alarm) in folded.items():
        assert cq == whole[g], (g, cq, whole[g])
        assert alarm == (cq > 100_000)

    # re-drain with no new input: state table unchanged
    n_before = spark.read.parquet(catalog.path("cusum_state")).count()
    drain()
    assert spark.read.parquet(
        catalog.path("cusum_state")
    ).count() == n_before


def test_stream_topk_monitor_mergeable_guarantee(spark, tmp_path):
    """Per-batch Misra-Gries summaries merge with the mergeable-
    summaries guarantee: every item above the N/(k+1) frequency line
    survives, estimates are lower bounds undershooting by <= N/(k+1),
    and a checkpointed re-drain with no new input changes nothing."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming.extract_stream import (
        read_topk_estimates,
        stream_topk_monitor,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    k = 8
    rows = (
        [("hot_a",)] * 300
        + [("hot_b",)] * 200
        + [(f"tail_{i % 97}",) for i in range(500)]
    )
    df = spark.createDataFrame(rows, "item string")

    def drain():
        q = stream_topk_monitor(
            spark, in_dir, catalog, ckpt, "item", k=k
        )
        q.awaitTermination()

    # two arrivals -> two micro-batches, BOTH hot items split across
    # them (the merge has to add partial counters, not just union)
    df1 = spark.createDataFrame(rows[0::2], "item string")
    df2 = spark.createDataFrame(rows[1::2], "item string")
    df1.write.mode("append").parquet(in_dir)
    drain()
    df2.write.mode("append").parquet(in_dir)
    drain()

    est = {r["item"]: r["cnt"] for r in read_topk_estimates(
        spark, catalog, k=k
    ).collect()}
    exact = {
        r["item"]: r["cnt"]
        for r in spark.read.parquet(in_dir)
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("cnt"))
        .collect()
    }
    n = sum(exact.values())
    bound = n / (k + 1)
    # heavy items present with lower-bound estimates within the bound
    for hot in ("hot_a", "hot_b"):
        assert exact[hot] > bound
        assert hot in est
        assert est[hot] <= exact[hot] <= est[hot] + bound
    assert len(est) <= k
    # replay idempotence: re-drain with no new files, state unchanged
    before = sorted(est.items())
    drain()
    after = sorted(
        (r["item"], r["cnt"])
        for r in read_topk_estimates(spark, catalog, k=k).collect()
    )
    assert before == after


def test_stream_srm_monitor_cumulative_and_idempotent(spark, tmp_path):
    """Per-batch arm-count partials fold to the IDENTICAL chi2 the
    batch srm_check gives on the whole drained input; a checkpointed
    re-drain with no new input changes nothing; a planted-skew second
    arrival moves the cumulative chi2 up."""
    from png_from_pdf_extracter_spark.functions.stats import srm_check
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming.extract_stream import (
        read_srm,
        stream_srm_monitor,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).select(
        (F.col("user_id") % 2 == 0).cast("string").alias("arm"),
        "event_id",
    )
    expected = {"true": 1, "false": 1}

    def drain():
        q = stream_srm_monitor(spark, in_dir, catalog, ckpt, "arm")
        q.awaitTermination()

    ev.filter(F.col("event_id") % 2 == 0).drop("event_id").write.mode(
        "append"
    ).parquet(in_dir)
    drain()
    first = read_srm(spark, catalog, expected).collect()[0]

    # idempotent re-drain: nothing new arrived
    drain()
    again = read_srm(spark, catalog, expected).collect()[0]
    assert (first["n"], first["chi2_q6"]) == (
        again["n"],
        again["chi2_q6"],
    )

    # second arrival: cumulative equals the batch check on ALL rows
    ev.filter(F.col("event_id") % 2 == 1).drop("event_id").write.mode(
        "append"
    ).parquet(in_dir)
    drain()
    cum = read_srm(spark, catalog, expected).collect()[0]
    whole = srm_check(ev.drop("event_id"), "arm", expected).collect()[0]
    assert cum["n"] == whole["n"]
    assert cum["chi2_q6"] == whole["chi2_q6"]
    assert cum["k_arms"] == 2 and cum["n_unexpected"] == 0


def test_stream_msprt_monitor_matches_batch_gate(spark, tmp_path):
    """Per-batch moment partials fold to the IDENTICAL anytime-valid
    verdict the batch msprt_gate gives on the whole drained input; a
    checkpointed re-drain with no new input changes nothing (replay
    safety); a planted-effect second arrival drives p_always down."""
    from png_from_pdf_extracter_spark.functions.stats import msprt_gate
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming.extract_stream import (
        read_msprt,
        stream_msprt_monitor,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    catalog = Catalog(str(tmp_path / "wh"))
    rows = [(float(i % 7), i % 2, i) for i in range(400)]
    ev = spark.createDataFrame(rows, "v double, arm int, i long")

    def drain():
        q = stream_msprt_monitor(
            spark, in_dir, catalog, ckpt, "v", "arm", quantize=2
        )
        q.awaitTermination()

    ev.filter(F.col("i") < 200).drop("i").write.mode("append").parquet(
        in_dir
    )
    drain()
    first = read_msprt(spark, catalog, tau=1.0, quantize=2).collect()[0]
    batch = msprt_gate(
        ev.filter(F.col("i") < 200).drop("i"),
        "v",
        "arm",
        tau=1.0,
        quantize=2,
    ).collect()[0]
    # the streaming fold IS the batch statistic — exact moments merge
    assert first.asDict() == batch.asDict()
    assert first["p_always_q6"] == 1.0  # identical arms

    # idempotent re-drain
    drain()
    again = read_msprt(spark, catalog, tau=1.0, quantize=2).collect()[0]
    assert again.asDict() == first.asDict()

    # planted effect arrives: arm 1 shifts by +10 -> reject
    shifted = ev.filter(F.col("i") >= 200).drop("i").withColumn(
        "v",
        F.when(F.col("arm") == 1, F.col("v") + 10.0).otherwise(
            F.col("v")
        ),
    )
    shifted.write.mode("append").parquet(in_dir)
    drain()
    cum = read_msprt(spark, catalog, tau=5.0, quantize=2).collect()[0]
    assert cum["n_a"] == 200 and cum["n_b"] == 200
    assert cum["p_always_q6"] < 0.01 and cum["reject"] == 1
