"""Warehouse maintenance job: compact a table's small files.

A batch ``run_extract`` already writes one file per bucket; incremental
appends (streaming micro-batches, CC sinks) add task-sized parquet files
on every commit, and this job rewrites a warehouse table at a
target file size so downstream scans pay for bytes, not file opens. The
Iceberg analog is ``rewrite_data_files``; here it is the Catalog's
write-to-temp + directory-swap commit.

    spark-submit --py-files dist/png_from_pdf_extracter_spark.zip \
        jobs/run_compact.py --warehouse /path/to/warehouse \
        --table extracted_turns [--partition-col partition_id] \
        [--target-file-mb 128] [--snapshot [--expire-keep 2]]

With ``--snapshot`` the table is a ``SnapshotTable`` (manifest-versioned,
``meta/`` + ``data/`` layout): compaction commits a new snapshot with the
atomic pointer flip — readers racing the rewrite keep their pinned
version — and old snapshots beyond ``--expire-keep`` are expired.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", required=True)
    p.add_argument(
        "--partition-col", default=None,
        help="hive partition column to preserve (e.g. partition_id)",
    )
    p.add_argument("--target-file-mb", type=int, default=128)
    p.add_argument(
        "--snapshot", action="store_true",
        help="table is a SnapshotTable (meta/ + data/ layout): compact "
        "with a snapshot-atomic commit and expire old snapshots after",
    )
    p.add_argument(
        "--expire-keep", type=int, default=2,
        help="snapshot mode: how many snapshots to retain after compaction",
    )
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    if args.target_file_mb <= 0:
        print(f"invalid job params: target-file-mb={args.target_file_mb}",
              file=sys.stderr)
        return 1

    builder = SparkSession.builder.appName("compact")
    if args.master:
        builder = builder.master(args.master)
    # only stop the session on exit if this job created it (in-process
    # callers, e.g. tests, own their session)
    owns_session = SparkSession.getActiveSession() is None
    spark = builder.getOrCreate()
    try:
        if args.snapshot:
            from png_from_pdf_extracter_spark.sources.snapshots import (
                SnapshotTable,
            )

            t = SnapshotTable(args.warehouse, args.table)
            if t.current_version() is None:
                print(f"no such snapshot table: {args.table}",
                      file=sys.stderr)
                return 1
            stats = t.compact(spark, target_file_mb=args.target_file_mb)
            exp = t.expire_snapshots(keep=max(1, args.expire_keep))
            print(
                f"compacted table={args.table} snapshot={stats['version']}"
                f" files_before={stats['files_before']}"
                f" bytes={stats['bytes']}"
                f" expired_manifests={exp['removed_manifests']}"
                f" expired_dirs={exp['removed_dirs']}"
            )
            return 0
        catalog = Catalog(args.warehouse)
        if not catalog.exists(args.table):
            print(f"no such table: {args.table}", file=sys.stderr)
            return 1
        stats = catalog.compact(
            spark,
            args.table,
            partition_col=args.partition_col,
            target_file_mb=args.target_file_mb,
        )
        print(
            f"compacted table={args.table} files_before={stats['files_before']}"
            f" files_after={stats['files_after']} bytes={stats['bytes']}"
        )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
