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

Every foreachBatch sink here starts through ``_start``, and every per-batch
state monitor commits through ``_batch_state_sink``.
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


def _batch_state_sink(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    table: str,
    checkpoint: str,
    processing_time: str | None,
    state_of,
):
    """Stream the parquet files under ``input_path`` and commit
    ``state_of(batch_df)`` of every micro-batch under its own ``batch_id``
    partition of ``table``: a replayed batch overwrites its own state, so
    the state table is exactly-once without transactions."""
    schema = spark.read.parquet(input_path).schema
    src = spark.readStream.schema(schema).parquet(input_path)

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        state = state_of(batch_df).withColumn("batch_id", F.lit(batch_id))
        catalog.overwrite_partitions(state, table, "batch_id")

    return _start(src, commit, checkpoint, processing_time)


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


def stream_conv_progress(
    extracted: DataFrame,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-conversation progress rollup (streaming 'ProcessingJob' rows):
    last turn seen, turns done, error count — an aggregation keyed by
    conv_id with watermarked event time, emitted in update mode. This is
    the streaming twin of the batch lineage metrics."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .agg(
            F.max("turn_idx").alias("last_turn_idx"),
            F.count("*").alias("n_turns_done"),
            F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias(
                "n_errors"
            ),
            F.max("ts").alias("last_ts"),
        )
    )


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


def stream_profile_to_catalog(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    group_col: str,
    value_col: str,
    table: str = "profile_state",
    processing_time: str | None = None,
):
    """Streaming aggregate maintenance: each micro-batch is collapsed to
    its mergeable partial-profile state (functions/incremental.py) and
    written under its ``batch_id`` partition with dynamic overwrite —
    at-least-once replay of a batch OVERWRITES its own partition, so the
    state table is exactly-once without transactions. The live profile is
    derived at read time by ``read_profile`` (a merge over the per-batch
    states — rows = batches x groups, metadata-sized), which means the
    stream never rewrites history: a 10^12-turn corpus profile absorbs
    each new batch at the cost of aggregating THAT batch only."""
    from ..functions import incremental

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time,
        lambda batch_df: incremental.partial_profile(
            batch_df, group_col, value_col
        ),
    )


def stream_drift_monitor(
    spark: SparkSession,
    input_path: str,
    reference: DataFrame,
    catalog: Catalog,
    checkpoint: str,
    group_col: str,
    value_col: str,
    table: str = "drift_reports",
    processing_time: str | None = None,
):
    """Streaming distribution-drift monitor: every micro-batch is scored
    with PSI (functions/drift.py) against a STATIC reference snapshot
    and the per-group report lands under the batch's ``batch_id``
    partition with dynamic overwrite — replayed batches overwrite their
    own report, so the monitor table is exactly-once without
    transactions (the ``stream_profile_to_catalog`` commit pattern).
    This is the production shape of "alert if this hour's ingest
    drifted": each batch costs one pass over THAT batch plus the
    reference's (groups x edges) quantile table — persist the reference
    DataFrame if the trigger interval is short."""
    from ..functions.drift import psi_drift

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time,
        lambda batch_df: psi_drift(reference, batch_df, value_col, group_col),
    )


def read_profile(
    spark: SparkSession,
    catalog: Catalog,
    group_col: str,
    table: str = "profile_state",
) -> DataFrame:
    """Finalized live profile from the per-batch state table: merge all
    batch partials, derive (n, mean, std, mn, mx) per group."""
    from ..functions import incremental

    state = catalog.read(spark, table).drop("batch_id")
    return incremental.finalize_profile(
        incremental.merge_profiles(group_col, state), group_col
    )

def stream_kmv_monitor(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
    table: str = "kmv_state",
    processing_time: str | None = None,
):
    """Streaming distinct-cardinality monitor backed by the KMV sketch
    (functions/sketch.py): every micro-batch writes ITS OWN k-minimum
    hash set under the batch's ``batch_id`` partition (dynamic
    overwrite -> replayed batches overwrite their own state, the
    ``stream_drift_monitor`` exactly-once pattern), and
    [[read_kmv_distinct]] folds all batch partials with ``kmv_merge``.
    This is the sketch doing the job HLL does in production pipelines —
    "how many distinct users/URLs have we EVER seen" maintained
    incrementally, state per batch bounded by k x groups rows of plain
    BIGINTs (queryable, mergeable, engine-portable) instead of opaque
    registers."""
    from ..functions.sketch import kmv_build

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time,
        lambda batch_df: kmv_build(batch_df, item_col, group_cols, k),
    )


def read_kmv_distinct(
    spark: SparkSession,
    catalog: Catalog,
    group_cols: tuple[str, ...] = (),
    k: int = 64,
    table: str = "kmv_state",
) -> DataFrame:
    """Merged distinct-count estimate from the per-batch KMV state:
    union the raw hash partials, re-top-k (NEVER re-hash), estimate.
    Identical k-set — and therefore identical estimate — to sketching
    the whole drained input at once (pinned in tests)."""
    from ..functions.sketch import kmv_estimate, kmv_merge

    state = catalog.read(spark, table).drop("batch_id", "rank")
    merged = kmv_merge([state], group_cols, k)
    return kmv_estimate(merged, group_cols, k)


def stream_cusum_monitor(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    target_q: int,
    slack_q: int = 0,
    table: str = "cusum_state",
    processing_time: str | None = None,
):
    """Streaming CUSUM drift monitor — the ONLINE twin of
    ``functions/stats.py cusum_drift``, possible because the recursion
    has an ASSOCIATIVE lift: each micro-batch is summarized by the
    per-group BIGINT pair ``(t_sum, g_max)`` (``cusum_batch_state``)
    written under its ``batch_id`` partition with dynamic overwrite —
    replayed batches overwrite their own state, the
    ``stream_drift_monitor``/``stream_kmv_monitor`` exactly-once
    pattern — and [[read_cusum_alarms]] folds the partials in batch
    order WITHOUT replaying any rows. State per batch is groups x 3
    BIGINTs; the alarm feed is batch-granular (the statistic at each
    batch boundary), which is the resolution a trigger-interval monitor
    actually acts on."""
    from ..functions.stats import cusum_batch_state

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time,
        lambda batch_df: cusum_batch_state(
            batch_df, group_cols, order_cols, value_col, target_q, slack_q
        ),
    )


def read_cusum_alarms(
    spark: SparkSession,
    catalog: Catalog,
    group_cols: tuple[str, ...],
    threshold_q: int | None = None,
    table: str = "cusum_state",
) -> DataFrame:
    """Running CUSUM after each batch from the per-batch state table:
    fold the (t_sum, g_max) partials in batch_id order with
    ``cusum_fold_states`` — two windows over the tiny state table.
    The final batch's cusum_q equals running ``cusum_drift`` over the
    whole drained input (the associativity identity pinned in
    tests/test_stats.py and tests/test_streaming.py)."""
    from ..functions.stats import cusum_fold_states

    state = catalog.read(spark, table)
    return cusum_fold_states(
        state, group_cols, seq_col="batch_id", threshold_q=threshold_q
    )


def _mg_compress(cnt: DataFrame, item_col: str, k: int) -> DataFrame:
    """Relational Misra-Gries compress of an exact (item, cnt) table to
    <= k rows: subtract the (k+1)-th largest count from every item and
    keep the positive remainders (Agarwal et al., mergeable
    summaries). TakeOrdered finds the threshold (k+1 rows to the
    driver-free limit plan); no full sort."""
    thr = (
        cnt.select(F.col("cnt").alias("__t"))
        .orderBy(F.desc("__t"))
        .limit(k + 1)
        .agg(
            F.when(F.count("*") > k, F.min("__t"))
            .otherwise(F.lit(0))
            .alias("__m")
        )
    )
    return (
        cnt.crossJoin(F.broadcast(thr))
        .filter(F.col("cnt") > F.col("__m"))
        .select(
            item_col, (F.col("cnt") - F.col("__m")).alias("cnt")
        )
    )


def stream_topk_monitor(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    item_col: str,
    k: int = 64,
    table: str = "topk_state",
    processing_time: str | None = None,
):
    """Streaming heavy-hitters monitor — the ONLINE twin of
    ``functions/sketch.py heavy_hitters``: every micro-batch reduces to
    an exact (item, cnt) aggregate, Misra-Gries-compresses it to <= k
    rows ([[_mg_compress]]), and writes the summary under its
    ``batch_id`` partition with dynamic overwrite (replayed batches
    overwrite their own state — the ``stream_kmv_monitor``
    exactly-once pattern). State per batch: k rows of (string, BIGINT),
    queryable and mergeable, with the mergeable-summaries guarantee
    intact across any number of batches: every item whose true stream
    frequency exceeds N/(k+1) survives in the merged state, and each
    surviving estimate undershoots its true count by at most N/(k+1)
    in total."""

    def summary(batch_df: DataFrame) -> DataFrame:
        cnt = (
            batch_df.select(
                F.col(item_col).cast("string").alias("item")
            )
            .filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        return _mg_compress(cnt, "item", k)

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time, summary
    )


def read_topk_estimates(
    spark: SparkSession,
    catalog: Catalog,
    k: int = 64,
    table: str = "topk_state",
) -> DataFrame:
    """Merged heavy-hitter estimates from the per-batch MG state: sum
    the per-batch remainders per item (summary merge = counter
    addition), compress once more to k, order by estimate. Estimates
    are LOWER bounds with total undershoot <= N/(k+1) (pinned in
    tests/test_streaming.py against the exact drained counts)."""
    state = (
        catalog.read(spark, table)
        .groupBy("item")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    return _mg_compress(state, "item", k).orderBy(
        F.desc("cnt"), F.asc("item")
    )


def stream_srm_monitor(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    arm_col: str,
    table: str = "srm_state",
    processing_time: str | None = None,
):
    """Streaming sample-ratio-mismatch monitor: every micro-batch
    writes its OWN per-arm assignment counts under the batch's
    ``batch_id`` partition (dynamic overwrite — the
    [[stream_drift_monitor]] exactly-once pattern), and
    [[read_srm]] folds all batch partials and scores the CUMULATIVE
    chi2 against the designed weights. Counts are the mergeable
    state; the chi2 is derived at read time — so replays never
    double-count and the monitor answers both "is THIS batch off"
    (per-partition rows) and "has the experiment drifted overall"
    (the fold). State is arms x batches rows of BIGINTs.
    """

    def counts(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(F.col(arm_col).cast("string").alias("arm"))
            .groupBy("arm")
            .agg(F.count("*").cast("long").alias("__o"))
        )

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time, counts
    )


def read_srm(
    spark: SparkSession,
    catalog: Catalog,
    expected: dict,
    table: str = "srm_state",
) -> DataFrame:
    """Cumulative SRM verdict from the per-batch count state: merge
    all batch partials (an integer sum — order-free) and score with
    [[srm_check_counts]] against the designed weights."""
    from ..functions.stats import srm_check_counts

    state = catalog.read(spark, table)
    merged = state.groupBy("arm").agg(
        F.sum("__o").cast("long").alias("__o")
    )
    return srm_check_counts(merged, expected)


def stream_msprt_monitor(
    spark: SparkSession,
    input_path: str,
    catalog: Catalog,
    checkpoint: str,
    value_col: str,
    arm_col: str,
    table: str = "msprt_state",
    quantize: int = 2,
    processing_time: str | None = None,
):
    """Streaming anytime-valid experiment monitor — the state side of
    [[stats.msprt_gate]], which is the one test you MAY score on every
    micro-batch without alpha inflation (that's its whole design; the
    fixed-horizon [[stream_srm_monitor]] chi2 would need correction
    under continuous peeking). Every batch writes its OWN per-arm
    moment partials (n, sum, sum-of-squares of the quantized values —
    all exact, all mergeable) under the batch's ``batch_id`` partition
    (dynamic overwrite: the [[stream_drift_monitor]] exactly-once
    pattern, replays never double-count), and [[read_msprt]] folds the
    partials and scores the CUMULATIVE mixture likelihood ratio at
    read time. State is arms x batches rows of BIGINT/DECIMAL.
    """
    scale = 10 ** quantize

    def moments(batch_df: DataFrame) -> DataFrame:
        v = F.round(
            F.col(value_col).cast("double") * F.lit(scale), 0
        ).cast("long")
        vd = v.cast("decimal(38,0)")
        return (
            batch_df.select(
                F.col(arm_col).cast("string").alias("arm"),
                v.alias("__v"),
                vd.alias("__vd"),
            )
            .filter(F.col("__v").isNotNull())
            .groupBy("arm")
            .agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("__v").cast("long").alias("__s"),
                F.sum(F.col("__vd") * F.col("__vd")).alias("__q"),
            )
        )

    return _batch_state_sink(
        spark, input_path, catalog, table, checkpoint, processing_time, moments
    )


def read_msprt(
    spark: SparkSession,
    catalog: Catalog,
    tau: float = 1.0,
    alpha: float = 0.05,
    table: str = "msprt_state",
    quantize: int = 2,
) -> DataFrame:
    """Cumulative anytime-valid verdict from the mSPRT moment state:
    merge all batch partials (integer sums — order-free), binarize the
    two arms by their MIN name (the [[stats.msprt_gate]] contract),
    and evaluate the same closed-form mixture likelihood ratio the
    batch operator uses — log L = 0.5 ln(V/(V+tau^2)) +
    theta^2 tau^2 / (2 V (V+tau^2)), p_always = min(1, exp(-log L)).
    Because the p-value is valid at EVERY n simultaneously, calling
    this after any batch is statistically safe — the property the
    monitor exists to exploit. Returns one row
    (n_a, n_b, diff_q6, log_lambda_q6, p_always_q6, reject).
    """
    state = catalog.read(spark, table)
    merged = state.groupBy("arm").agg(
        F.sum("__n").cast("long").alias("__n"),
        F.sum("__s").cast("long").alias("__s"),
        F.sum("__q").cast("decimal(38,0)").alias("__q"),
    )
    gmin = F.broadcast(merged.agg(F.min("arm").alias("__ga")))
    a = (F.col("arm") == F.col("__ga")).cast("int")
    agg = merged.crossJoin(gmin).agg(
        F.sum(F.col("__n") * a).cast("long").alias("n_a"),
        F.sum(F.col("__n") * (1 - a)).cast("long").alias("n_b"),
        F.sum(F.col("__s") * a).cast("long").alias("__s_a"),
        F.sum(F.col("__s") * (1 - a)).cast("long").alias("__s_b"),
        F.sum(F.col("__q") * a.cast("decimal(38,0)")).alias("__q_a"),
        F.sum(F.col("__q") * (1 - a).cast("decimal(38,0)")).alias(
            "__q_b"
        ),
    )
    scale = float(10 ** quantize)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.try_divide(F.col("__s_a").cast("double"), na)
    mb = F.try_divide(F.col("__s_b").cast("double"), nb)
    va = F.try_divide(
        F.col("__q_a").cast("double") - ma * F.col("__s_a").cast("double"),
        na - F.lit(1.0),
    )
    vb = F.try_divide(
        F.col("__q_b").cast("double") - mb * F.col("__s_b").cast("double"),
        nb - F.lit(1.0),
    )
    theta = (mb - ma) / F.lit(scale)
    vv = (
        F.try_divide(va, na) + F.try_divide(vb, nb)
    ) / F.lit(scale * scale)
    t2 = F.lit(float(tau) * float(tau))
    log_l = F.lit(0.5) * F.log(vv / (vv + t2)) + (
        theta * theta * t2
    ) / (F.lit(2.0) * vv * (vv + t2))
    p_always = F.least(F.lit(1.0), F.exp(-log_l))
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (vv > 0)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, q6(theta)).alias("diff_q6"),
        F.when(ok, q6(log_l)).alias("log_lambda_q6"),
        F.when(ok, q6(p_always)).alias("p_always_q6"),
        F.when(ok & (p_always < F.lit(float(alpha))), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("reject"),
    )
