"""Transcripts source: schema, stable partition buckets, distributed generation.

Partition identity for resume must be stable across runs and cluster layouts
(SURVEY.md §7 hard part #3) — ``spark_partition_id()`` is neither. We bucket
on the first 8 hex chars of ``md5(conv_id)``: computable identically by Spark
builtins (stays in whole-stage codegen) and by pure Python (datagen/tests),
and uniform over conversations. All turns of one conversation land in one
bucket, so a bucket is a self-contained unit of work whose completion the
lineage table can record (the "message uid" analog of the reference's
delete-on-commit, ``/root/reference/src/services/imap_service.py:212-235``).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..datagen.transcripts import GenConfig, conv_rows

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

SPAN_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType()),
            T.StructField("end", T.IntegerType()),
            T.StructField("kind", T.StringType()),
        ]
    )
)

def read_transcripts(
    spark: SparkSession, path: str, fmt: str = "parquet"
) -> DataFrame:
    """Schema-enforced transcript reader (no inference in the hot path —
    the model is fixed-schema end to end, SURVEY.md §1.2). ``fmt``:
    parquet | orc | json (JSON-lines) | csv (header, quoted multi-line
    text).
    The decode step is the RFC5322-parse analog (ref
    ``imap_service.py:173-202``): external bytes -> typed rows, with
    malformed rows surfaced as nulls for the validation predicates rather
    than killing the scan (mode=PERMISSIVE is Spark's error-channel)."""
    if fmt == "parquet":
        return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)
    if fmt == "orc":
        # columnar like parquet (predicate pushdown + column pruning both
        # apply); the schema pin guards against ORC's own inference
        return spark.read.schema(TRANSCRIPTS_SCHEMA).orc(path)
    if fmt == "json":
        return (
            spark.read.schema(TRANSCRIPTS_SCHEMA)
            .option("mode", "PERMISSIVE")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
            .json(path)
        )
    if fmt == "csv":
        # ignore*WhiteSpace must be explicit: text payloads carry
        # significant leading/trailing whitespace and the per-turn equality
        # contract is byte-for-byte.
        return (
            spark.read.schema(TRANSCRIPTS_SCHEMA)
            .option("header", True)
            .option("multiLine", True)
            .option("escape", '"')
            .option("ignoreLeadingWhiteSpace", False)
            .option("ignoreTrailingWhiteSpace", False)
            .option("mode", "PERMISSIVE")
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ssXXX")
            .csv(path)
        )
    raise ValueError(f"unsupported transcript format: {fmt}")


def partition_bucket_py(conv_id: str | None, n_buckets: int) -> int:
    """Pure-Python twin of ``with_partition_id`` — MUST stay in lockstep,
    including the null-input sentinel."""
    if conv_id is None:
        return -1
    return int(hashlib.md5(conv_id.encode()).hexdigest()[:8], 16) % n_buckets


def with_partition_id(df: DataFrame, n_buckets: int) -> DataFrame:
    """Stable conv_id bucket via builtins only (codegen-friendly). A null
    conv_id (malformed input) gets sentinel bucket -1 rather than a null
    partition_id, so such rows stay addressable by the lineage/quarantine
    machinery instead of landing in a hive null-partition."""
    return df.withColumn(
        "partition_id",
        F.coalesce(
            (
                F.conv(F.substring(F.md5(F.col("conv_id")), 1, 8), 16, 10)
                .cast("long")
                % F.lit(n_buckets)
            ).cast("int"),
            F.lit(-1),
        ),
    )


def generate_transcripts(spark: SparkSession, gcfg: GenConfig) -> DataFrame:
    """Distributed deterministic generation: one task generates a slice of
    conversations; output is independent of parallelism because each conv is
    a pure function of (seed, conv_idx)."""

    def gen(iterator: Iterator) -> Iterator:
        import pandas as pd

        for pdf in iterator:
            rows = []
            for conv_idx in pdf["id"]:
                rows.extend(conv_rows(int(conv_idx), gcfg))
            out = pd.DataFrame(
                rows,
                columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"],
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            yield out

    return (
        spark.range(gcfg.n_convs)
        .repartition(max(spark.sparkContext.defaultParallelism, 2))
        .mapInPandas(gen, TRANSCRIPTS_SCHEMA)
    )
