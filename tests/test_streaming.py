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
