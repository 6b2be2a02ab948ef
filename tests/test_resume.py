"""Kill-and-resume: the lineage table makes runs restartable with no
duplicates and no gaps (north rule; the reference's NFR-007/008 semantics —
work is re-done only when its commit record is missing)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig, gen_pandas
from png_from_pdf_extracter_spark.plans import METRICS_SCHEMA, JobParams, run_job
from png_from_pdf_extracter_spark.sources import Catalog
from png_from_pdf_extracter_spark.sources.transcripts import (
    TRANSCRIPTS_SCHEMA,
    with_partition_id,
)

GCFG = GenConfig(n_convs=40, seed=7)
PARAMS = JobParams(n_buckets=8, extractor=GCFG.extractor, num_partitions=8)


@pytest.fixture()
def transcripts(spark):
    tdf, _ = gen_pandas(GCFG)
    return spark.createDataFrame(tdf, schema=TRANSCRIPTS_SCHEMA)


def test_partial_run_then_resume_no_dupes_no_gaps(spark, transcripts, tmp_path):
    catalog = Catalog(str(tmp_path / "warehouse"))

    # ---- run 1: simulate a crash after only buckets {0,1,2} committed, by
    # feeding the job a filtered input (same commit path as a real partial run)
    bucketed = with_partition_id(transcripts, PARAMS.n_buckets)
    partial_input = bucketed.filter(F.col("partition_id") < 3).drop("partition_id")
    run_job(spark, partial_input, catalog, PARAMS)

    m1 = catalog.read(spark, "extract_metrics").toPandas()
    assert set(m1.partition_id) == {0, 1, 2}
    assert (m1.status == "ok").all()

    # ---- run 2: full input, resume on — only the remaining buckets run
    stats = run_job(spark, transcripts, catalog, PARAMS)

    m2 = catalog.read(spark, "extract_metrics").toPandas()
    # every bucket exactly once in lineage
    counts = m2.groupby("partition_id").size()
    assert (counts == 1).all(), "lineage has duplicate bucket rows"
    assert set(m2.partition_id) == set(range(PARAMS.n_buckets)) & set(
        with_partition_id(transcripts, PARAMS.n_buckets)
        .select("partition_id").distinct().toPandas().partition_id
    )

    # ---- final output: no duplicates, no gaps vs the whitelisted input
    out = catalog.read(spark, "extracted_turns")
    key_counts = (
        out.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    )
    assert key_counts == 0, "duplicate (conv_id, turn_idx) rows after resume"

    expected_keys = (
        transcripts.filter(F.col("role").rlike(PARAMS.role_whitelist))
        .select("conv_id", "turn_idx")
    )
    missing = expected_keys.join(
        out.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).count()
    assert missing == 0, "gaps after resume"

    # run-2 only processed pending buckets (resume actually skipped work),
    # and its row count is what its lineage rows committed
    assert stats["rows"] < expected_keys.count()
    touched = m2[~m2.partition_id.isin(m1.partition_id)]
    assert stats["rows"] == touched.rows.sum()


def test_rerun_after_complete_is_a_noop(spark, transcripts, tmp_path):
    catalog = Catalog(str(tmp_path / "warehouse"))
    run_job(spark, transcripts, catalog, PARAMS)
    # the lineage aggregate lands as one file, typed as METRICS_SCHEMA
    assert catalog.table_files("extract_metrics") == 1
    assert [
        (f.name, f.dataType)
        for f in catalog.read(spark, "extract_metrics").schema
    ] == [(f.name, f.dataType) for f in METRICS_SCHEMA]
    before = catalog.read(spark, "extracted_turns").count()
    stats2 = run_job(spark, transcripts, catalog, PARAMS)
    assert stats2["rows"] == 0, "second run re-processed committed buckets"
    assert catalog.table_files("extract_metrics") == 1  # commits nothing
    after = catalog.read(spark, "extracted_turns").count()
    assert after == before

    # digest integrity: recompute from written data matches lineage
    m = catalog.read(spark, "extract_metrics").toPandas()
    assert m.rows.sum() == before


def test_version_bump_invalidates_lineage(spark, transcripts, tmp_path):
    catalog = Catalog(str(tmp_path / "warehouse"))
    run_job(spark, transcripts, catalog, PARAMS)
    bumped = JobParams(
        n_buckets=PARAMS.n_buckets,
        extractor=PARAMS.extractor,
        num_partitions=8,
        extractor_version="0.1.0-test-bump",
    )
    stats = run_job(spark, transcripts, catalog, bumped)
    assert stats["rows"] > 0, "version bump must re-extract everything"
