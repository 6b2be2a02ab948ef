"""Compaction maintenance: fewer files, identical rows, layout preserved."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.sources.catalog import Catalog


def _fragment(spark, catalog, table, partitioned):
    """Write a deliberately fragmented table: many appends, many tasks."""
    for i in range(4):
        df = (
            spark.range(i * 250, (i + 1) * 250)
            .withColumn("partition_id", (F.col("id") % 5).cast("int"))
            .withColumn("payload", F.sha2(F.col("id").cast("string"), 256))
            .repartition(8)
        )
        if partitioned:
            df.write.mode("append").partitionBy("partition_id").parquet(
                catalog.path(table)
            )
        else:
            df.write.mode("append").parquet(catalog.path(table))


def test_compact_partitioned(spark, tmp_path):
    catalog = Catalog(str(tmp_path / "wh"))
    _fragment(spark, catalog, "t", partitioned=True)
    before = catalog.read(spark, "t")
    before_rows = sorted(
        (r["id"], r["payload"], r["partition_id"]) for r in before.collect()
    )
    n_before = catalog.table_files("t")

    stats = catalog.compact(spark, "t", partition_col="partition_id")

    assert stats["files_before"] == n_before
    # one file per hive partition dir (5 partitions)
    assert stats["files_after"] == 5
    after = catalog.read(spark, "t")
    after_rows = sorted(
        (r["id"], r["payload"], r["partition_id"]) for r in after.collect()
    )
    assert after_rows == before_rows


def test_compact_flat(spark, tmp_path):
    catalog = Catalog(str(tmp_path / "wh"))
    _fragment(spark, catalog, "t", partitioned=False)
    n_before = catalog.table_files("t")
    assert n_before > 1

    stats = catalog.compact(spark, "t")

    assert stats["files_after"] == 1  # tiny table -> one target-size file
    assert stats["files_after"] < n_before
    assert catalog.read(spark, "t").count() == 1000


def test_compact_cli(spark, tmp_path):
    from jobs.run_compact import main

    catalog = Catalog(str(tmp_path / "wh"))
    _fragment(spark, catalog, "t", partitioned=True)
    rc = main(
        [
            "--warehouse", str(tmp_path / "wh"),
            "--table", "t",
            "--partition-col", "partition_id",
        ]
    )
    assert rc == 0
    assert catalog.table_files("t") == 5
    rc = main(["--warehouse", str(tmp_path / "wh"), "--table", "missing"])
    assert rc == 1


def test_compact_cli_snapshot_mode(spark, tmp_path):
    from jobs.run_compact import main

    from png_from_pdf_extracter_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "wh"), "snap")
    for lo in range(0, 30, 10):
        t.append(
            spark.range(lo, lo + 10).select("id").repartition(4)
        )
    assert len(t.manifest()["dirs"]) == 3

    rc = main(
        [
            "--warehouse", str(tmp_path / "wh"),
            "--table", "snap",
            "--snapshot",
            "--expire-keep", "1",
        ]
    )
    assert rc == 0
    assert len(t.manifest()["dirs"]) == 1
    assert t.read(spark).count() == 30
    assert len(t.versions()) == 1  # expired down to the compacted head

    rc = main(
        ["--warehouse", str(tmp_path / "wh"), "--table", "nope", "--snapshot"]
    )
    assert rc == 1
