"""Structured Streaming surface — the daemon-loop analog.

The reference runs an infinite poll loop: check INBOX, process, sleep 60s
(``/root/reference/src/services/job_processor.py:223-262``). Spark's native
shape for that is Structured Streaming over the transcripts location:

- ``trigger(availableNow=True)``   = one poll cycle that drains the backlog
  and exits (restartable batch — what our resume/lineage path also gives).
- ``trigger(processingTime='60 seconds')`` = the literal daemon loop.

The streaming checkpoint directory subsumes the reference's
delete-on-commit bookkeeping for this surface: source offsets commit only
after the sink write, so a crash re-processes the last micro-batch
(at-least-once + idempotent file sink = the same NFR-007/008 contract the
batch path implements with the lineage table).

The extraction itself is the SAME UDF and projection as the batch plan
(``extract_columns``) — one code path, two drivers (batch job / stream),
like the reference reuses ``process_next_email`` from both the CLI and the
daemon.

Every foreachBatch sink here starts through ``_start``.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.extract_plan import JobParams, _final_turn_columns, extract_columns
from ..plans.metrics import partition_metrics
from ..sources.catalog import Catalog
from ..sources.transcripts import TRANSCRIPTS_SCHEMA, with_partition_id


def _start(df: DataFrame, commit, checkpoint: str, processing_time: str | None):
    """Start ``df`` as a foreachBatch query that calls ``commit(batch_df,
    batch_id)`` per micro-batch. Default trigger is ``availableNow`` (one
    drained poll cycle, restart-safe via the checkpoint); a
    ``processing_time`` such as ``'60 seconds'`` is the daemon loop (runs
    until stopped). Returns the started ``StreamingQuery``."""
    writer = df.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint
    )
    if processing_time:
        writer = writer.trigger(processingTime=processing_time)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _epoch(table, batch_id: int) -> dict | None:
    """Snapshot summary for committing micro-batch ``batch_id`` to a
    ``SnapshotTable``, or None when the head manifest's ``max_batch_id``
    says the batch is already committed (a replay after a crash, which
    the caller skips). Every commit carries ``max_batch_id`` forward, so
    the guard survives ``expire_snapshots`` and interleaved compaction."""
    try:
        prev_max = int(table.manifest().get("max_batch_id", -1))
    except FileNotFoundError:
        prev_max = -1
    if batch_id <= prev_max:
        return None
    return {"batch_id": batch_id, "max_batch_id": batch_id}


def stream_extract(
    spark: SparkSession,
    input_path: str,
    params: JobParams,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming extraction DataFrame: readStream(parquet dir) -> whitelist
    -> bucket -> extract_columns. No salted repartition here — in
    streaming, micro-batch sizing (``max_files_per_trigger``) bounds task
    skew instead; the kernel and output schema are identical to the batch
    plan. The trigger size is the steady-state knob: per-batch work =
    that many files' worth of turns, so a sustained daemon sizes it to
    keep batch wall time under the trigger interval (the bench's
    sustained phase drives it explicitly to guarantee a multi-batch
    measurement).

    Start it with, e.g.::

        q = (stream_extract(spark, in_dir, params).writeStream
             .format("parquet").option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_path)
    )
    df = stream.filter(F.col("role").rlike(params.role_whitelist))
    df = with_partition_id(df, params.n_buckets)
    return extract_columns(df, params.extractor)


def stream_extract_to_catalog(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    params: JobParams,
    checkpoint: str,
    table: str = "extracted_turns_stream",
    metrics_table: str = "extract_metrics_stream",
    processing_time: str | None = None,
):
    """Streaming extraction with the batch job's lineage/commit semantics,
    via ``foreachBatch``: each micro-batch writes data partitioned by its
    ``batch_id`` under DYNAMIC partition overwrite, then its lineage rows
    under the same ``batch_id`` partition of ``metrics_table``.
    foreachBatch is at-least-once — a crash after either write replays the
    batch — but the replay OVERWRITES its own batch_id partition of both
    tables, so every (batch_id, partition_id) has exactly one lineage row:
    the same at-least-once + idempotence contract as the batch path (spec
    NFR-007/008). Returns the started ``StreamingQuery`` (caller
    awaits/stops). Default trigger is ``availableNow`` — one drained poll
    cycle, restart-safe via the checkpoint; pass ``processing_time='60
    seconds'`` for the literal daemon loop (runs until stopped)."""
    extracted = stream_extract(spark, input_path, params)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = _final_turn_columns(batch_df, params).withColumn(
            "batch_id", F.lit(batch_id)
        )
        out = out.persist()  # data write + metrics read the same batch
        try:
            catalog.overwrite_partitions(out, table, "batch_id", "partition_id")
            m = partition_metrics(
                out,
                params.extractor_version,
                _dt.datetime.now(_dt.timezone.utc),
            ).withColumn("batch_id", F.lit(batch_id))
            catalog.overwrite_partitions(m, metrics_table, "batch_id")
        finally:
            out.unpersist()

    return _start(extracted, commit_batch, checkpoint, processing_time)


def stream_turn_rates(
    extracted: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Windowed throughput/error metrics with late-data tolerance: counts per
    (event-time window, status). The watermark bounds state — without it a
    10^12-turn stream accumulates unbounded window state."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("status"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum("text_bytes").alias("bytes_in"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "status",
            "n_turns",
            "bytes_in",
        )
    )


def stream_dedup(
    extracted: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming duplicate suppression: at-least-once upstream delivery
    (the re-processed micro-batch after a crash, spec NFR-008) becomes
    effectively-once downstream. ``dropDuplicatesWithinWatermark`` keeps
    per-key state only within the watermark horizon, so state is bounded
    — the streaming twin of the batch ``dedup_latest``."""
    keys = keys or ["conv_id", "turn_idx"]
    return extracted.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_sessionize(
    events: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming gap sessionization via the native ``session_window``
    merging-window aggregate — the streaming twin of
    ``operators.sessions.sessionize``. Emits one row per closed session
    (append mode once the watermark passes the session end): bounds,
    event count. State merges adjacent windows within ``gap`` and is
    dropped past the watermark, so it is bounded per active key."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"),
            F.col(key_col),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts_col: str,
    right_ts_col: str,
    window_seconds: int = 600,
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: left events matched to right events of
    the same key where ``right_ts <= left_ts <= right_ts + window`` — the
    streaming twin of ``operators.temporal.range_join`` (event
    attribution across two live streams).

    ``how='left_outer'`` additionally emits UNMATCHED left rows
    (null-padded) once the watermark passes their join horizon — the
    attribution-miss record a funnel needs. Outer rows are emitted with a
    delay by construction: the engine can only declare "no match will
    ever come" after event time advances past ``ts + window + watermark``,
    so a drained-and-idle stream holds tail rows until a later batch
    moves the watermark (the classic outer-join flush gotcha, exercised
    in tests).

    The time-interval predicate is not just semantics: it is what lets
    Structured Streaming BOUND the join state — each side keeps only rows
    within (watermark + window) of the stream clock, then drops them.
    Without the interval condition a stream-stream join buffers both
    streams forever. Both sides shuffle on the key (state store
    partitioning), same as the batch join's exchange.

    ``left_ts_col`` / ``right_ts_col`` must be distinct names (rename
    before calling); payload columns must not collide."""
    if window_seconds <= 0:
        raise ValueError("window_seconds must be positive")
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"stream-stream interval join supports inner/left_outer "
            f"(got {how!r})"
        )
    l = left.withWatermark(left_ts_col, watermark)
    r = right.withWatermark(right_ts_col, watermark)
    cond = (
        (l[key_col] == r[key_col])
        & (l[left_ts_col] >= r[right_ts_col])
        & (
            l[left_ts_col]
            <= r[right_ts_col] + F.expr(f"INTERVAL {window_seconds} SECONDS")
        )
    )
    return l.join(r, cond, how).drop(r[key_col])


def stream_static_enrich(
    stream: DataFrame,
    dim: DataFrame,
    key_col: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static join: enrich a live stream against a static dimension
    table (conversation attributes, routing rules, blocklists). Unlike
    stream-stream joins this is STATELESS — the static side is just read
    (and with ``broadcast``, shipped to every task), so there is no
    watermark requirement and no state store; the dimension is re-read per
    micro-batch, which is also what picks up slowly-changing dim updates
    between batches. Only inner / left-outer are valid with the stream on
    the left (a right/full join would need to emit unmatched DIM rows,
    which is undefined while the stream is unbounded) — guarded here
    rather than failing at query start."""
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(
            f"stream-static join supports inner/left (got {how!r}): "
            "unmatched static rows are undefined on an unbounded stream"
        )
    return stream.join(F.broadcast(dim), on=key_col, how=how)


def stream_extract_to_snapshots(
    spark: SparkSession,
    input_path: str,
    table,
    params: JobParams,
    checkpoint: str,
    processing_time: str | None = None,
):
    """Streaming extraction committing each micro-batch as a SNAPSHOT —
    the exactly-once upgrade over ``stream_extract_to_catalog``'s
    at-least-once + idempotent-overwrite contract. foreachBatch replays
    the last in-flight batch after a crash; here the sink consults the
    head manifest's ``max_batch_id`` (carried forward monotonically
    through every commit, so it survives ``expire_snapshots``) and SKIPS
    any batch id already committed. Result: a replayed batch becomes a
    no-op instead of an overwrite, and readers — who always see exactly
    one committed snapshot thanks to the atomic pointer flip — observe
    each batch's rows exactly once. This is the Iceberg streaming-sink
    commit design (snapshot per epoch, epoch id in the summary), minus
    the jars. ``table`` is a ``SnapshotTable``."""
    extracted = stream_extract(spark, input_path, params)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        extra = _epoch(table, batch_id)
        if extra is None:
            return  # replay of a committed batch: exactly-once no-op
        out = _final_turn_columns(batch_df, params).withColumn(
            "batch_id", F.lit(batch_id)
        )
        table.append(out, extra=extra)

    return _start(extracted, commit_batch, checkpoint, processing_time)


def stream_upsert_to_snapshots(
    spark: SparkSession,
    input_path: str,
    table,
    key_col: str,
    checkpoint: str,
    processing_time: str | None = None,
):
    """Streaming CDC apply: each micro-batch UPSERTS into a
    ``SnapshotTable`` via one atomic merge-on-read commit
    (``merge_mor``: new data dir + equality delete scoped to pre-merge
    dirs — zero rewrite of the 100 TB target per batch), guarded by the
    same ``max_batch_id`` replay no-op as ``stream_extract_to_snapshots``
    — the Iceberg "CDC stream into a table" shape, exactly-once end to
    end. The guard survives interleaved maintenance (compact between
    batches) because every commit carries max_batch_id forward.
    Batches may carry several versions of one key; the latest by
    position is NOT defined on an unordered batch, so the batch is
    pre-collapsed with max_by on ``ts`` when present (CDC convention),
    else keys must be unique per batch."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        extra = _epoch(table, batch_id)
        if extra is None:
            return  # replay of a committed batch: exactly-once no-op
        if "ts" in batch_df.columns:
            from ..functions.dedup import dedup_latest

            batch_df = dedup_latest(batch_df, [key_col], "ts")
        if table.current_version() is None:
            table.append(batch_df, extra=extra)
        else:
            table.merge_mor(batch_df, key_col, extra=extra)

    return _start(src, commit_batch, checkpoint, processing_time)
