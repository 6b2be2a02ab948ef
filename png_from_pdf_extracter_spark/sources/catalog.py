"""Minimal table catalog: Iceberg-shaped API over parquet directories.

The north rule targets Iceberg tables; this sandbox has no Iceberg catalog
jars, so the catalog wraps parquet directories with the same call shapes
(``read / append / overwrite / overwrite_partitions / exists``). That is
the one seam: every read and write of a catalog table in the package goes
through these methods (``snapshots.SnapshotTable`` is the other table
layer), so on a real cluster an Iceberg catalog replaces their bodies
(table identifiers instead of paths) and everything above this module is
unchanged. Atomicity note: Iceberg gives snapshot-atomic appends;
parquet append is directory-level (new files land last). Our resume protocol
only trusts a partition after its lineage row exists in ``extract_metrics``
(the delete-source-on-commit analog, ref ``/root/reference/src/services/
imap_service.py:212-235``), so a torn data write without a metrics row is
re-processed and deduplicated — the same at-least-once + idempotence contract
as the reference (spec NFR-008).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _recover(self, table: str) -> None:
        """Crash recovery for ``compact``'s two-rename commit: if a crash
        landed between the renames, the live path is missing and the data
        sits in ``__compact_old`` — restore it. Called from every access
        path so a torn compact self-heals on the next read."""
        src = self.path(table)
        old = src + "__compact_old"
        if not os.path.exists(src) and os.path.isdir(old):
            os.rename(old, src)

    def exists(self, table: str) -> bool:
        self._recover(table)
        p = self.path(table)
        if not os.path.isdir(p):
            return False
        # must recurse: hive-partitioned tables written with dynamic
        # partition overwrite keep their data (and _SUCCESS markers) under
        # partition_col=value/ subdirs, with nothing at the top level
        for _dirpath, _dirs, files in os.walk(p):
            if any(f.endswith(".parquet") or f == "_SUCCESS" for f in files):
                return True
        return False

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        self._recover(table)
        return spark.read.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, *partition_cols: str) -> None:
        df.write.mode("append").partitionBy(*partition_cols).parquet(
            self.path(table)
        )

    def overwrite_partitions(
        self, df: DataFrame, table: str, *partition_cols: str
    ) -> None:
        """The commit of a re-runnable write (the Iceberg overwrite-partition
        analog): ``df`` lands partitioned by ``partition_cols`` and replaces
        only the partitions it holds, so a re-run bucket or a replayed
        micro-batch overwrites itself and leaves every other partition of
        ``table`` alone (spec NFR-007/008).

        Dynamic overwrite is a per-write option, never a session setting:
        a streaming query's micro-batches run in the query's own copy of
        the session, made when the query starts, which a later conf change
        does not reach."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(self.path(table))
        )

    def overwrite(self, df: DataFrame, table: str) -> None:
        df.write.mode("overwrite").parquet(self.path(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_col: str,
        n_buckets: int,
        sort: bool = True,
    ) -> None:
        """Bucketed external table (Spark bucketing metadata in the session
        catalog, files under the warehouse root). Two tables bucketed on
        the same key with the same bucket count join WITHOUT any Exchange
        — and without the Sort, when ``sort=True`` — which is how repeated
        big-table<->big-table joins amortize their shuffle at 100 TB: pay
        the layout cost once at write time, join shuffle-free forever
        after (the parquet analog of an Iceberg bucket-partitioned table).
        Read back with ``read_bucketed`` (``spark.table``) — a plain
        ``spark.read.parquet`` of the path would discard the bucketing
        metadata and re-shuffle."""
        writer = df.write.mode("overwrite").option("path", self.path(table))
        writer = writer.bucketBy(n_buckets, bucket_col)
        if sort:
            writer = writer.sortBy(bucket_col)
        writer.format("parquet").saveAsTable(table)

    def read_bucketed(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.table(table)

    def write_clustered(
        self,
        df: DataFrame,
        table: str,
        cluster_cols: list,
        n_files: int,
    ) -> None:
        """Range-clustered layout (the Z-order-lite for a single sort
        dimension): repartitionByRange + sortWithinPartitions before the
        write, so each output file covers a narrow, non-overlapping slice
        of the cluster key and carries tight parquet min/max column
        statistics. A later filtered scan on that key then prunes whole
        files (and row groups) from the footer stats alone — at 100 TB
        the difference between reading 1/1000th of the table and reading
        all of it. Unlike ``write_bucketed`` this needs no session-catalog
        metadata: stats pruning works through a plain
        ``spark.read.parquet``. Use bucketing to kill JOIN shuffles,
        clustering to kill FILTER scan volume."""
        (
            df.repartitionByRange(n_files, *cluster_cols)
            .sortWithinPartitions(*cluster_cols)
            .write.mode("overwrite")
            .parquet(self.path(table))
        )

    def write_zordered(
        self,
        df: DataFrame,
        table: str,
        cols: list,
        n_files: int,
        bits: int = 8,
    ) -> None:
        """Z-order (Morton-curve) clustered layout for MULTI-column
        pruning — ``write_clustered`` gives tight file stats on ONE sort
        dimension; interleaving the bits of two or more normalized keys
        gives *every* listed column locality, so filtered scans on any of
        them prune files from parquet footer min/max alone (the Delta/
        Iceberg OPTIMIZE ZORDER design).

        Each column is min/max-normalized to ``bits`` bits (one tiny agg
        job at plan time — the same driver-side decision as Iceberg's
        sort-order stats), then bit-interleaved into the Morton key with
        pure shiftleft/or column expressions (JVM codegen, no UDF).
        Ordering quality degrades gracefully for skewed value
        distributions; bump ``bits`` or pre-quantile the column if that
        matters. The z key never lands in the table."""
        from pyspark.sql import functions as F

        aggs = []
        for c in cols:
            aggs += [
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            ]
        row = df.agg(*aggs).first()
        top = (1 << bits) - 1
        parts = []
        n = len(cols)
        for ci, c in enumerate(cols):
            mn = float(row[f"mn_{c}"])
            span = float(row[f"mx_{c}"]) - mn
            if span <= 0:
                continue
            q = F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn))
                    / F.lit(span)
                    * F.lit(top + 1)
                ).cast("long"),
            )
            # bit i of column ci lands at position i*n + ci of the z key
            for i in range(bits):
                parts.append(
                    F.shiftleft(
                        F.shiftright(q, i).bitwiseAND(F.lit(1)),
                        i * n + ci,
                    )
                )
        zkey = parts[0] if parts else F.lit(0)
        for p in parts[1:]:
            zkey = zkey.bitwiseOR(p)
        (
            df.withColumn("__z", zkey)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.mode("overwrite")
            .parquet(self.path(table))
        )

    def table_bytes(self, table: str) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(self.path(table)):
            total += sum(
                os.path.getsize(os.path.join(dirpath, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    def table_files(self, table: str) -> int:
        n = 0
        for _dirpath, _dirs, files in os.walk(self.path(table)):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def compact(
        self,
        spark: SparkSession,
        table: str,
        partition_col: str | None = None,
        target_file_mb: int = 128,
    ) -> dict:
        """Small-files maintenance rewrite (the parquet analog of Iceberg's
        ``rewrite_data_files``). Every incremental/resumed run appends task-
        sized files; at 100 TB that metastasizes into millions of tiny files
        and the NEXT job's scan is throttled by file-open overhead, not
        bytes. Rewrites the table at ~``target_file_mb`` per file —
        hive-partitioned tables keep their layout, with all rows of one
        partition hashed to one task (=> one file per partition dir).

        Commit is write-to-temp + two sequential directory renames (temp is
        created beside the table, so both renames stay on one filesystem).
        This is WEAKER than an Iceberg snapshot commit: a reader racing the
        swap can momentarily see the table path missing (it never sees a
        mix of old and new files), and a crash between the renames leaves
        the data parked in ``__compact_old`` — which ``_recover`` restores
        on the next read/exists/compact of the table. Returns a stats dict
        ``{files_before, files_after, bytes}``."""
        self._recover(table)
        src = self.path(table)
        files_before = self.table_files(table)
        nbytes = self.table_bytes(table)
        n_out = max(1, math.ceil(nbytes / (target_file_mb * 1024 * 1024)))

        tmp = src + "__compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if partition_col:
            df = spark.read.option("basePath", src).parquet(src)
            (
                df.repartition(n_out, partition_col)
                .write.mode("overwrite")
                .partitionBy(partition_col)
                .parquet(tmp)
            )
        else:
            df = spark.read.parquet(src)
            df.repartition(n_out).write.mode("overwrite").parquet(tmp)

        old = src + "__compact_old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(src, old)
        os.rename(tmp, src)
        shutil.rmtree(old, ignore_errors=True)
        return {
            "files_before": files_before,
            "files_after": self.table_files(table),
            "bytes": nbytes,
        }
