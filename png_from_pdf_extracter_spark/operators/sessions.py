"""Gap-based sessionization over event/turn streams.

Transcripts and event logs arrive as flat rows; a "session" is a maximal run
of rows per key whose consecutive timestamps are within ``gap``. Classic
two-window plan (lag -> boundary flag -> running sum), all JVM builtins:

    lag(ts) over (key ORDER BY ts, tiebreak)    -- previous event time
    boundary = ts - prev > gap (or first row)
    session_idx = sum(boundary) over (key ORDER BY ...)  -- running count

One shuffle on the key; both windows share the same sort, so Catalyst plans
a single Exchange + Sort. The reference has no session concept (it is
per-message sequential), but its ordered-processing contract (FR-022,
``/root/reference/src/services/job_processor.py:75-77``) is what the
ORDER BY tie-break preserves here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int = 1800,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Adds ``session_idx`` (1-based per key) and ``is_session_start``.
    Deterministic under ties via ``tiebreak_col`` (required if timestamps
    can repeat within a key)."""
    order = [F.col(ts_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(key_col).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    boundary = (
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(prev_ts))
           > gap_seconds)
    ).cast("int")
    running = Window.partitionBy(key_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("is_session_start", boundary).withColumn(
        "session_idx", F.sum("is_session_start").over(running).cast("int")
    )


def session_stats(sessions: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """Per-session rollup: bounds, event count, duration."""
    return sessions.groupBy(key_col, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").cast("long").alias("n_events"),
        (
            F.unix_timestamp(F.max(ts_col)) - F.unix_timestamp(F.min(ts_col))
        ).cast("long").alias("duration_s"),
    )


def event_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_cols: tuple = (),
) -> DataFrame:
    """First-order Markov transition table over per-key event sequences —
    the behavioral-analytics staple (what follows "view"? where do
    sessions leak?) and the input to sequence-anomaly scoring.

    One window pass per key (state bounded by a key's event count, the
    same skew domain sessionize already handles) producing lag pairs,
    then a map-combinable count. The probability is the exact rational
    n / n_from emitted at 6dp — integers until the one terminal division,
    so cross-engine hashes cannot drift. ``order_cols`` appends
    tie-breakers after ``ts_col`` for deterministic ordering on equal
    timestamps.

    Returns (from_type, to_type, n, p) ordered by (from_type, to_type).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    pairs = (
        events.select(
            F.lag(type_col).over(w).alias("from_type"),
            F.col(type_col).alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )
    totals = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("n_from"), 6).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )

def last_touch_attribution(
    events: DataFrame,
    key_col: str,
    order_cols: tuple[str, ...],
    type_col: str,
    conversion: str,
    direct_label: str = "direct",
) -> DataFrame:
    """Last-touch conversion attribution: each ``conversion`` event is
    credited to the most recent PRECEDING non-conversion event type in
    the same key's stable order (the marketing-analytics workhorse; a
    conversion with no prior touch credits ``direct_label``).

    Plan: ONE key-partitioned window — ``last(..., ignorenulls=True)``
    over the unbounded-preceding-to-previous-row frame picks the latest
    non-conversion touch without a self-join or a per-row subquery —
    then a combinable rollup per credited channel. Same shape at any
    scale: the window exchange is keyed by ``key_col`` and the rollup
    is channel-cardinality-sized.

    Returns (channel, n_conversions, n_users) ordered nowhere — let the
    caller sort.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col(type_col) != conversion, F.col(type_col)),
        ignorenulls=True,
    ).over(w)
    conv = events.select(
        F.col(key_col).alias("__k"),
        F.col(type_col).alias("__t"),
        touch.alias("__touch"),
    ).filter(F.col("__t") == conversion)
    return (
        conv.select(
            F.coalesce(F.col("__touch"), F.lit(direct_label)).alias(
                "channel"
            ),
            "__k",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.countDistinct("__k").cast("long").alias("n_users"),
        )
    )


def label_runs(
    df: DataFrame,
    key_col: str,
    label_col: str,
    order_cols: list,
    min_run: int = 3,
) -> DataFrame:
    """Run-length encoding of consecutive equal labels per key
    (gaps-and-islands): maximal runs of the same ``label_col`` value in
    ``order_cols`` order, keeping runs of length >= ``min_run``.

    The transcript-native use is agent-loop detection: a conversation
    whose consecutive turns repeat the same tool is stuck; at 10^12 turns
    you find those with windows, not with driver-side scans. Same shape
    flags user event loops (rage-clicks, retry storms).

    Plan: one Exchange on the key, one Sort shared by both window
    functions (lag boundary flag + running sum island id — the
    ``sessionize`` pattern, islands keyed by label change instead of time
    gap), then one combinable aggregation on (key, island). The run id is
    NOT emitted (island numbering is an implementation detail); output is
    (key, label, run_len, start_<order>, end_<order>) per surviving run.

    Reference contract: ordered per-conversation processing
    (/root/reference/src/services/job_processor.py:75-77) — the ORDER BY
    tie-break chain here is what makes runs deterministic.
    """
    order_exprs = [F.col(c).asc() for c in order_cols]
    w = Window.partitionBy(key_col).orderBy(*order_exprs)
    boundary = (
        F.lag(label_col).over(w).isNull()
        | (F.lag(label_col).over(w) != F.col(label_col))
    ).cast("int")
    first_order = order_cols[0]
    runs = (
        df.withColumn("__island", F.sum(boundary).over(w))
        .groupBy(key_col, label_col, "__island")
        .agg(
            F.count("*").cast("int").alias("run_len"),
            F.min(first_order).alias(f"start_{first_order}"),
            F.max(first_order).alias(f"end_{first_order}"),
        )
        .filter(F.col("run_len") >= min_run)
        .drop("__island")
    )
    return runs


def turn_churn(
    df: DataFrame,
    key_col: str,
    order_cols: list,
    text_col: str,
    min_jaccard: float = 0.8,
) -> DataFrame:
    """Consecutive-turn text-similarity churn: token-set Jaccard between
    each turn and the PREVIOUS turn in the same conversation — the fuzzy
    twin of [[label_runs]] for agent-loop detection (an agent stuck
    re-emitting near-identical messages repeats the text while the tool
    label may vary; exact run-length misses it). Flags turns whose
    overlap with their predecessor is >= ``min_jaccard``.

    All JVM builtins: one window lag of the token array (one Exchange on
    the key, one Sort), then array_intersect/array_union sizes — no
    shuffle beyond the window, no Python. Token sets, not bags
    (array_distinct before compare), so reordering tokens still counts
    as churn — the right call for detecting paraphrased repeats.

    Returns (key, order head, n_tokens, prev_jaccard) for flagged turns;
    first turns (no predecessor) never flag.
    """
    # local import: functions/ stays out of the production import set
    from ..functions.text import tokens

    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    first_order = order_cols[0]
    withprev = df.select(
        F.col(key_col),
        F.col(first_order),
        toks.alias("__t"),
    ).withColumn("__p", F.lag("__t").over(w))
    inter = F.size(F.array_intersect("__t", "__p"))
    union = F.size(F.array_union("__t", "__p"))
    return (
        withprev.filter(F.col("__p").isNotNull() & (union > 0))
        .withColumn(
            "prev_jaccard", F.round(inter / union.cast("double"), 4)
        )
        .filter(F.col("prev_jaccard") >= min_jaccard)
        .select(
            key_col,
            first_order,
            F.size("__t").cast("int").alias("n_tokens"),
            "prev_jaccard",
        )
    )
