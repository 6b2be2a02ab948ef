"""Deployment contract: spark-submit --py-files zip + jobs/run_extract.py.

The north rule requires the pipeline to run via ``spark-submit --py-files``.
This smoke test packages the source zip, launches a REAL spark-submit
subprocess (fresh JVM, package imported only from the zip), runs the batch
job against generated transcripts, and checks output + resume semantics:
a second run with the same warehouse re-processes nothing and duplicates
nothing (the delete-source-on-commit analog, ref job_processor.py:148-153).
"""

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig, ROLE_WHITELIST
from png_from_pdf_extracter_spark.sources import generate_transcripts

SPARK_SUBMIT = shutil.which("spark-submit") or os.path.join(
    os.path.dirname(os.path.dirname(sys.executable)), "bin", "spark-submit"
)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    not shutil.which("spark-submit")
    and not os.path.exists(SPARK_SUBMIT or ""),
    reason="spark-submit not on PATH",
)
def test_spark_submit_pyfiles_job(spark, tmp_path):
    in_dir = str(tmp_path / "transcripts")
    warehouse = str(tmp_path / "warehouse")
    zip_path = str(tmp_path / "pkg.zip")

    gcfg = GenConfig(seed=11, n_convs=40)
    tdf = generate_transcripts(spark, gcfg)
    tdf.write.mode("overwrite").parquet(in_dir)
    n_expected = tdf.filter(F.col("role").rlike(ROLE_WHITELIST)).count()

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from package_pyfiles import build

        build(zip_path)
    finally:
        sys.path.pop(0)

    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "4g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "run_extract.py"),
        "--input", in_dir,
        "--warehouse", warehouse,
        "--n-buckets", "16",
        "--num-partitions", "4",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert r1.returncode == 0, r1.stderr[-4000:]
    assert f"extracted rows={n_expected}" in r1.stdout
    # the run record: one JSON line with the count and per-action walls
    record = json.loads(r1.stdout.strip().splitlines()[-1])
    assert record["rows"] == n_expected
    assert all(
        record[k] >= 0 for k in ("write_s", "quarantine_s", "cc_s", "lineage_s")
    )

    out = spark.read.parquet(os.path.join(warehouse, "extracted_turns"))
    assert out.count() == n_expected
    assert (
        out.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1)
    ).count() == 0

    # second run: resume anti-join sees every bucket committed -> 0 new rows,
    # existing output untouched
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert r2.returncode == 0, r2.stderr[-4000:]
    assert "extracted rows=0" in r2.stdout
    out2 = spark.read.parquet(os.path.join(warehouse, "extracted_turns"))
    assert out2.count() == n_expected


@pytest.mark.skipif(
    not shutil.which("spark-submit")
    and not os.path.exists(SPARK_SUBMIT or ""),
    reason="spark-submit not on PATH",
)
def test_spark_submit_stream_job(spark, tmp_path):
    """Streaming driver via spark-submit: one availableNow drain writes
    batch-stamped output + lineage; a re-submission with the same
    checkpoint drains nothing new."""
    in_dir = str(tmp_path / "transcripts")
    warehouse = str(tmp_path / "warehouse")
    ckpt = str(tmp_path / "ckpt")
    zip_path = str(tmp_path / "pkg.zip")

    gcfg = GenConfig(seed=12, n_convs=20)
    tdf = generate_transcripts(spark, gcfg)
    tdf.write.mode("overwrite").parquet(in_dir)
    n_expected = tdf.filter(F.col("role").rlike(ROLE_WHITELIST)).count()

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        from package_pyfiles import build

        build(zip_path)
    finally:
        sys.path.pop(0)

    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "4g",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "run_stream.py"),
        "--input", in_dir,
        "--warehouse", warehouse,
        "--checkpoint", ckpt,
        "--n-buckets", "16",
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r1 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert r1.returncode == 0, r1.stderr[-4000:]
    assert f"stream drained rows_total={n_expected}" in r1.stdout

    out = spark.read.parquet(os.path.join(warehouse, "extracted_turns_stream"))
    assert out.count() == n_expected
    m = spark.read.parquet(os.path.join(warehouse, "extract_metrics_stream"))
    assert m.agg(F.sum("rows")).collect()[0][0] == n_expected

    # re-submission, same checkpoint, no new input: total unchanged
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert r2.returncode == 0, r2.stderr[-4000:]
    assert f"stream drained rows_total={n_expected}" in r2.stdout
