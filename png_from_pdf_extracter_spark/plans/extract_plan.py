"""Flagship extraction plan — the Spark re-expression of the reference's
per-item workflow (``/root/reference/src/services/job_processor.py:51-184``:
fetch -> whitelist -> MIME walk -> convert -> reassemble -> commit), as ONE
declarative DataFrame plan:

    scan transcripts
      -> anti-join completed partitions (the "UNSEEN" predicate)
      -> role whitelist filter (pushed to the scan by Catalyst)
      -> stable partition buckets (md5(conv_id) % n_buckets)
      -> salted repartition (hot-conversation skew)
      -> pandas_udf(text) -> struct<status, error_class, units>
         [Arrow batches, zero per-row Python UDF calls]
      -> one builtin projection: extracted_text / spans / n_units from
         units, text_bytes / text_head from text
      -> rebalance by bucket (batch job only; AQE sizes the writer tasks)
      -> write extracted_turns partitioned by bucket (dynamic overwrite =
         idempotent re-run), counting its rows on the way (Observation)
      -> quarantine detail, CC fan-out, then the per-bucket lineage rows,
         appended straight from their aggregate (no driver round trip);
         a run that wrote no rows skips all three

Scale notes (100 TB / 1000 executors):
- The wide exchanges are the salted repartition (needed for skew) below
  the UDF, the bucket rebalance above it, and the metrics groupBy over
  ~n_buckets groups (tiny). Extraction itself is a map stage; no join
  touches the big table except the broadcast anti-join.
- The rebalance makes the write one file per bucket (a bucket larger than
  AQE's advisory partition size is split), so the commit and every
  post-write pass open one file per bucket, not one per (task, bucket).
- Column pruning: only ``text`` crosses into Python and only the result
  struct comes back; the pass-through columns never leave the JVM, and each
  unit's text crosses Arrow once. The post-write passes (errors, metrics)
  read back pruned columns from parquet instead of re-running extraction.
- Nothing but the run's row count reaches the driver: the lineage
  aggregate (~n_buckets rows) is written by the tasks that compute it.
- Dynamic partition overwrite by bucket (``Catalog.overwrite_partitions``)
  makes re-runs idempotent without a read-modify-write dedup (the Iceberg
  overwrite-partition commit analog).
"""

from __future__ import annotations

import datetime as _dt
import time
from dataclasses import dataclass, field
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import EXTRACTOR_VERSION
from ..datagen.transcripts import ROLE_WHITELIST, SYNTH_EXTRACTOR_CFG
from ..extractor import ExtractorConfig, extract_batch_lists
from ..extractor.kernel import STATUS_ERROR, UNIT_SEP
from ..operators import (
    pending_only,
    completed_partitions,
    salted_repartition,
    split_quarantine,
)
from ..sources.catalog import Catalog
from ..sources.transcripts import SPAN_SCHEMA, with_partition_id
from .metrics import partition_metrics

UNITS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("unit_idx", T.IntegerType()),
            T.StructField("unit_text", T.StringType()),
            T.StructField("spans", SPAN_SCHEMA),
        ]
    )
)

# The one UDF result per turn; every other output column is a builtin over
# ``units`` or ``text`` (see ``extract_columns``).
RESULT_SCHEMA = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("error_class", T.StringType()),
        T.StructField("units", UNITS_SCHEMA),
    ]
)


@dataclass
class JobParams:
    """Validated job parameters (the ``Configuration`` analog,
    ref ``src/config.py:8-117``; range checks mirror ``config.py:54-112``)."""

    n_buckets: int = 64
    salt_buckets: int = 8
    num_partitions: Optional[int] = None  # None -> 2x defaultParallelism
    role_whitelist: str = ROLE_WHITELIST
    extractor: ExtractorConfig = field(default_factory=lambda: SYNTH_EXTRACTOR_CFG)
    extractor_version: str = EXTRACTOR_VERSION
    # "always": unconditional salted shuffle (the north-star default);
    # "auto": sample-measure skew at plan time, shuffle only if a hot
    #         conversation exceeds a task's fair share (skips the single
    #         biggest data movement on uniform inputs);
    # "never": trust the source splits (bucketed/pre-partitioned input)
    salt_mode: str = "always"
    # Input-side CHECK validation (operators/validate.py). Off by default:
    # it costs ONE EXTRA SCAN of the raw input (rejects are found by a
    # second pass), which at 100 TB is a deliberate opt-in for untrusted
    # sources, not a freebie. The extractor itself already tolerates any
    # text payload; this gate catches structurally broken rows (null
    # conv_id/ts, negative turn_idx, oversized payloads).
    validate_input: bool = False
    max_text_bytes: int = 100 * 1024 * 1024  # ref pdf_attachment.py:30
    # Input payloads arrive base64-encoded (the transfer-encoding decode of
    # ref job_processor.py:207 ``part.get_payload(decode=True)``): decode
    # with the try_to_binary builtin BEFORE extraction — invalid base64
    # yields null text, which flows through the kernel's no_payload error
    # channel instead of failing the task.
    payload_base64: bool = False
    # CC fan-out (ref smtp_service.py:120-144): extra sink tables that
    # receive a copy of this run's extracted rows (written from the
    # read-back parquet — one extra output scan each, never re-extraction).
    cc_tables: tuple = ()

    def __post_init__(self) -> None:
        if self.n_buckets <= 0:
            raise ValueError("n_buckets must be positive")
        if self.salt_buckets <= 0:
            raise ValueError("salt_buckets must be positive")
        if not self.role_whitelist:
            raise ValueError("role_whitelist must be a non-empty regex")
        if self.salt_mode not in ("always", "auto", "never"):
            raise ValueError("salt_mode must be always|auto|never")
        if self.max_text_bytes <= 0:
            raise ValueError("max_text_bytes must be positive")
        if any(not t or not isinstance(t, str) for t in self.cc_tables):
            raise ValueError("cc_tables must be non-empty table names")


def extract_columns(df: DataFrame, cfg: ExtractorConfig) -> DataFrame:
    """Run the extraction UDF on ``text`` and derive the per-turn columns
    with builtins. The batch plan and the stream both end here. ``units``
    stays in the output for ``explode_units``; ``_final_turn_columns``
    drops it. The config rides the task closure once per task, never per
    row (ref constant-folding of conversion params,
    ``pdf_converter.py:74-89``)."""

    @F.pandas_udf(RESULT_SCHEMA)
    def extract(text: pd.Series) -> pd.DataFrame:
        statuses, errors, _, units = extract_batch_lists(text.tolist(), cfg)
        return pd.DataFrame(
            {
                "status": statuses,
                "error_class": errors,
                "units": [
                    [
                        {
                            "unit_idx": ui,
                            "unit_text": ut,
                            "spans": [
                                {"start": s, "end": e, "kind": k}
                                for (s, e, k) in sp
                            ],
                        }
                        for (ui, ut, sp) in row_units
                    ]
                    for row_units in units
                ],
            }
        )

    df = df.withColumn("_result", extract("text"))
    status = F.col("_result.status")
    units = F.col("_result.units")
    return df.select(
        "conv_id",
        "turn_idx",
        "partition_id",
        "role",
        "tool",
        "ts",
        status.alias("status"),
        F.col("_result.error_class").alias("error_class"),
        F.array_join(
            F.transform(units, lambda u: u["unit_text"]), UNIT_SEP
        ).alias("extracted_text"),
        units.alias("units"),
        F.flatten(F.transform(units, lambda u: u["spans"])).alias("spans"),
        F.size(units).alias("n_units"),
        F.coalesce(F.octet_length("text"), F.lit(0)).cast("long").alias(
            "text_bytes"
        ),
        F.coalesce(
            F.when(status == STATUS_ERROR, F.substring("text", 1, 256)),
            F.lit(""),
        ).alias("text_head"),
    )


def extract_turns(
    spark: SparkSession,
    transcripts: DataFrame,
    params: JobParams,
    metrics: Optional[DataFrame] = None,
) -> DataFrame:
    """The lazy extraction DataFrame: whitelist -> bucket -> (resume) ->
    salt -> extract_columns. Callers write it or test it; the per-unit
    fan-out is ``explode_units(extract_turns(...))``."""
    df = transcripts.filter(F.col("role").rlike(params.role_whitelist))
    if params.payload_base64:
        # transfer-encoding decode (ref job_processor.py:207), builtin and
        # null-safe: undecodable payloads become null -> kernel no_payload.
        # MIME encoders wrap lines with CRLF; strip those first (base64's
        # alphabet contains no whitespace, so this never corrupts data)
        df = df.withColumn(
            "text",
            F.try_to_binary(
                F.regexp_replace(F.col("text"), "[\\r\\n]", ""),
                F.lit("base64"),
            ).cast("string"),
        )
    df = with_partition_id(df, params.n_buckets)
    if metrics is not None:
        df = pending_only(
            df, completed_partitions(metrics, params.extractor_version)
        )
    num = params.num_partitions or max(
        2, spark.sparkContext.defaultParallelism * 2
    )
    if params.salt_mode == "always":
        df = salted_repartition(df, num, params.salt_buckets)
    elif params.salt_mode == "auto":
        from ..operators import salted_repartition_auto

        df = salted_repartition_auto(df, num, params.salt_buckets)
    return extract_columns(df, params.extractor)


def _final_turn_columns(extracted: DataFrame, params: JobParams) -> DataFrame:
    """The extracted_turns table shape: stamp row digest + version, drop
    the nested ``units``. Everything here is JVM builtins — stays in
    whole-stage codegen."""
    return extracted.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "ts",
        "status",
        "error_class",
        "extracted_text",
        "spans",
        "n_units",
        "text_bytes",
        "text_head",
        F.xxhash64("conv_id", "turn_idx", "extracted_text", "status").alias(
            "row_digest"
        ),
        F.lit(params.extractor_version).alias("extractor_version"),
        "partition_id",
    )


def job_output(
    spark: SparkSession,
    transcripts: DataFrame,
    params: JobParams,
    metrics: Optional[DataFrame] = None,
) -> DataFrame:
    """The DataFrame ``run_job`` writes to extracted_turns: the table shape
    clustered by bucket. The rebalance exchange sits above the extraction
    UDF, so the kernel still runs once per row; AQE coalesces the small
    buckets into few writer tasks (one file per bucket) and splits a bucket
    larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. The
    stream does not use it: AQE does not change the partitioning of a
    persisted micro-batch, so there the rebalance would run at
    ``spark.sql.shuffle.partitions`` tasks."""
    return _final_turn_columns(
        extract_turns(spark, transcripts, params, metrics), params
    ).hint("rebalance", "partition_id")


def run_job(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: Catalog,
    params: JobParams,
    resume: bool = True,
) -> dict:
    """Run the batch extraction job end-to-end with lineage + resume.

    Commit protocol (delete-source-on-commit analog, ref
    ``job_processor.py:148-153``): data lands first (per-bucket dynamic
    overwrite), the lineage row in ``extract_metrics`` lands last. A crash
    between the two leaves the bucket uncommitted -> next run re-extracts and
    overwrites it (at-least-once + idempotent, spec NFR-007/008). A run with
    nothing pending writes no rows and commits nothing.
    """
    started_at = _dt.datetime.now(_dt.timezone.utc)

    if params.validate_input:
        from ..operators import split_valid

        transcripts, rejects = split_valid(transcripts, params.max_text_bytes)
        # run identity on the dead-letter rows: a resumed/re-run job appends
        # the same rejects again (the input is re-scanned), so consumers
        # must be able to distinguish and dedup by run
        catalog.append(
            rejects.withColumn("run_id", F.lit(started_at.isoformat())),
            "input_rejects",
        )

    metrics = (
        catalog.read(spark, "extract_metrics")
        if resume and catalog.exists("extract_metrics")
        else None
    )

    # the run's row count rides on the data write itself: no count() pass,
    # and no lineage rows collected to the driver to sum
    written_rows = Observation("extracted_turns")
    t0 = time.perf_counter()
    catalog.overwrite_partitions(
        job_output(spark, transcripts, params, metrics).observe(
            written_rows, F.count(F.lit(1)).alias("rows")
        ),
        "extracted_turns",
        "partition_id",
    )
    rows = int(written_rows.get["rows"])
    t1 = time.perf_counter()
    stats = {
        "rows": rows,
        "started_at": started_at.isoformat(),
        "n_buckets": params.n_buckets,
        # wall seconds of each action; the extraction itself runs inside
        # the write
        "write_s": t1 - t0,
        "quarantine_s": 0.0,
        "cc_s": 0.0,
        "lineage_s": 0.0,
    }
    if rows == 0:
        # nothing pending: an empty run commits nothing, so it reads nothing
        # back either
        return stats

    # Post-write passes read back pruned columns (no re-extraction).
    written = catalog.read(spark, "extracted_turns")
    if metrics is not None:
        done = completed_partitions(metrics, params.extractor_version)
        written = pending_only(written, done)

    # no Observation here: one below the quarantine's status filter would
    # keep that filter out of the parquet scan, which skips error-free row
    # groups
    _, quarantined = split_quarantine(written)
    catalog.overwrite_partitions(quarantined, "extract_errors", "partition_id")
    t2 = time.perf_counter()

    # CC fan-out (ref smtp_service.py:120-144): same extracted rows to the
    # extra sinks, copied from the read-back parquet (one output scan per
    # sink) BEFORE the lineage commit so a crash mid-fan-out re-runs the
    # whole bucket rather than leaving a cc sink ahead of the commit record
    for cc in params.cc_tables:
        catalog.append(written, cc, "partition_id")
    t3 = time.perf_counter()

    # lineage commit lands LAST (delete-source-on-commit analog): the
    # per-bucket aggregate is appended as it comes out of the read-back
    # scan, with no round trip through the driver
    catalog.append(
        partition_metrics(written, params.extractor_version, started_at),
        "extract_metrics",
    )
    t4 = time.perf_counter()
    stats.update(quarantine_s=t2 - t1, cc_s=t3 - t2, lineage_s=t4 - t3)
    return stats
