"""Temporal joins Spark lacks as builtins: as-of join and interval
(range) join — both expressed so the plan is ONE key-shuffle, never a
row-explosion.

As-of join (point-in-time correlation): for each left row, the single
most recent right row at-or-before (backward) / earliest at-or-after
(forward) its timestamp, per key. The naive formulation —
``left JOIN right ON key AND r.ts <= l.ts`` then ``row_number() = 1`` —
materializes every (left, candidate) pair before pruning: O(L x R_key)
shuffle bytes per key, which at 100 TB is the whole job. Instead we tag
the two sides, UNION them, and run one ordered window per key where
``last(payload, ignorenulls)`` carries the latest right payload forward
onto each left row: one Exchange + one Sort, O(L + R) rows end to end,
O(1) state per row. This is the standard streaming/temporal-table
formulation (Flink temporal join, kdb aj) built purely from Spark
builtins, so it stays in whole-stage codegen outside the window.

Range join (interval containment): ``l.ts BETWEEN r.start AND r.end``
per key. Spark plans a raw inequality join as BroadcastNestedLoopJoin
(O(L x R) comparisons). We bucketize time: each right interval explodes
to the coarse buckets it covers, each left point computes its single
bucket, and the join becomes an equi-join on (key, bucket) + an exact
range filter. Each left row lands in exactly one bucket, so no
post-join dedup is needed. Bucket width trades replication of right
rows (interval_len / bucket + 1 copies) against candidate-pair
selectivity — pick it near the median interval length.

The reference has no joins at all (SURVEY.md §2.9); these are part of
the training-data-pipeline surface (event attribution, windowed
correlation) the brief requires as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join. ``on``: equi-key columns present in both sides.
    ``right_cols``: right columns to carry onto matches (exposed as
    ``<col><suffix>``), plus ``<right_ts><suffix>`` always. Unmatched
    left rows keep nulls (left-outer semantics, like DuckDB
    ``ASOF LEFT JOIN``). Backward matches ``r.ts <= l.ts``; forward
    matches ``r.ts >= l.ts`` (both inclusive). ``tolerance_seconds``
    voids matches farther than the bound. Rows with identical
    (key, ts) on the RIGHT side yield an arbitrary-but-deterministic
    winner only if a caller pre-dedups; keep right unique per (key, ts).

    Skew: the window partitions by key, so one pathologically hot key's
    full timeline lands in one task. Salting cannot be applied naively
    (the running last() needs the key's complete ordered history); for a
    small right side use ``asof_join_broadcast`` (no left shuffle at
    all); for big-big with hot keys use ``asof_join_skewed`` (coarse
    time-bucket split with carry-in — keys x buckets parallelism).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")

    left_keep = [c for c in left.columns if c not in on and c != left_ts]
    payload_cols = [F.col(right_ts).alias(f"{right_ts}{suffix}")] + [
        F.col(c).alias(f"{c}{suffix}") for c in right_cols
    ]

    r = right.select(
        *on,
        F.col(right_ts).alias("_asof_t"),
        F.lit(0).alias("_side"),
        F.struct(*payload_cols).alias("_rpay"),
        F.lit(None)
        .cast(left.select(F.struct(*left_keep).alias("s")).schema["s"].dataType)
        .alias("_lpay"),
    )
    l = left.select(
        *on,
        F.col(left_ts).alias("_asof_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_rpay"].dataType).alias("_rpay"),
        F.struct(*left_keep).alias("_lpay"),
    )

    # Right sorts before left on timestamp ties (_side 0 < 1) so equal
    # timestamps match inclusively in both directions.
    if direction == "backward":
        order = [F.col("_asof_t").asc(), F.col("_side").asc()]
    else:
        order = [F.col("_asof_t").desc(), F.col("_side").asc()]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    matched = (
        r.unionByName(l)
        .withColumn("_m", F.last("_rpay", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )

    if tolerance_seconds is not None:
        gap = F.unix_timestamp("_asof_t") - F.unix_timestamp(
            F.col("_m")[f"{right_ts}{suffix}"]
        )
        if direction == "forward":
            gap = -gap
        matched = matched.withColumn(
            "_m", F.when(gap <= F.lit(tolerance_seconds), F.col("_m"))
        )

    out_cols = (
        [F.col(c) for c in on]
        + [F.col("_asof_t").alias(left_ts)]
        + [F.col(f"_lpay.{c}").alias(c) for c in left_keep]
        + [
            F.col(f"_m.{right_ts}{suffix}").alias(f"{right_ts}{suffix}"),
        ]
        + [F.col(f"_m.{c}{suffix}").alias(f"{c}{suffix}") for c in right_cols]
    )
    return matched.select(*out_cols)


def asof_join_skewed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    bucket_seconds: int = 3600,
    direction: str = "backward",
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Big-big as-of join for HOT keys: same contract as ``asof_join``, but
    the per-key window is split by coarse time bucket so one pathological
    key's timeline no longer pins a single task.

    ``asof_join`` partitions its window by key alone — correct, one
    exchange, but a key holding 50% of 100 TB serializes into one task.
    Here each row gets ``bucket = floor(epoch(ts) / bucket_seconds)`` and
    the running-last window partitions by (key, bucket): parallelism
    becomes keys x buckets. Correctness across the bucket boundary is
    restored with a CARRY-IN: per (key, bucket) we aggregate the last
    (backward; first for forward) right row, lay those per-bucket summaries
    on the key's bucket timeline — at most one row per (key, bucket), so
    this small window is cheap even for the hottest key — and propagate the
    most recent summary from earlier (later, for forward) buckets into
    every bucket that has left rows, as a synthetic right row carrying its
    ORIGINAL timestamp (so tolerance still measures the true gap).

    Cost vs ``asof_join``: two extra small shuffles (per-bucket aggregate +
    carry join-back), each over ~|keys x active buckets| rows, not data
    rows. Pick ``bucket_seconds`` so a hot key's densest bucket fits a
    task; more buckets = more parallelism, more carry rows.

    Same right-side tie caveat as ``asof_join``: keep right unique per
    (key, ts)."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    backward = direction == "backward"

    payload_cols = [F.col(right_ts).alias(f"{right_ts}{suffix}")] + [
        F.col(c).alias(f"{c}{suffix}") for c in right_cols
    ]
    left_keep = [c for c in left.columns if c not in on and c != left_ts]

    def bucket_of(ts_col) -> F.Column:
        return F.floor(F.unix_timestamp(ts_col) / F.lit(bucket_seconds))

    r = right.select(
        *on,
        F.col(right_ts).alias("_asof_t"),
        F.struct(*payload_cols).alias("_rpay"),
    ).withColumn("_b", bucket_of(F.col("_asof_t")))

    # one summary row per (key, bucket): the bucket's best match seen from
    # the boundary (last for backward, first for forward)
    pick = F.max_by if backward else F.min_by
    per_bucket = r.groupBy(*on, "_b").agg(
        pick(F.struct(F.col("_asof_t"), F.col("_rpay")), F.col("_asof_t")).alias(
            "_edge"
        )
    )

    lb = (
        left.select(*on, bucket_of(F.col(left_ts)).alias("_b"))
        .distinct()
        .withColumn("_has_left", F.lit(True))
    )
    timeline = lb.join(per_bucket, on + ["_b"], "full")

    # carry = nearest summary strictly outside the bucket, toward the match
    # direction; window rows are per-(key, bucket) summaries, so even the
    # hottest key contributes only its active-bucket count here
    wb = Window.partitionBy(*on).orderBy(F.col("_b").asc())
    if backward:
        carry = F.last("_edge", ignorenulls=True).over(
            wb.rowsBetween(Window.unboundedPreceding, -1)
        )
    else:
        carry = F.first("_edge", ignorenulls=True).over(
            wb.rowsBetween(1, Window.unboundedFollowing)
        )
    carry_rows = (
        timeline.withColumn("_carry", carry)
        .filter(F.col("_has_left") & F.col("_carry").isNotNull())
        .select(
            *on,
            F.col("_carry._asof_t").alias("_asof_t"),
            F.col("_carry._rpay").alias("_rpay"),
            "_b",
        )
    )

    r_side = r.select(*on, "_asof_t", "_rpay", "_b").unionByName(carry_rows)
    null_r = F.lit(None).cast(r.schema["_rpay"].dataType)
    l_side = left.select(
        *on,
        F.col(left_ts).alias("_asof_t"),
        null_r.alias("_rpay"),
        F.struct(*[F.col(c) for c in left_keep]).alias("_lpay"),
    ).withColumn("_b", bucket_of(F.col("_asof_t")))
    null_l = F.lit(None).cast(l_side.schema["_lpay"].dataType)
    both = r_side.withColumn("_side", F.lit(0)).withColumn(
        "_lpay", null_l
    ).unionByName(l_side.withColumn("_side", F.lit(1)))

    order = (
        [F.col("_asof_t").asc(), F.col("_side").asc()]
        if backward
        else [F.col("_asof_t").desc(), F.col("_side").asc()]
    )
    w = (
        Window.partitionBy(*on, "_b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        both.withColumn("_m", F.last("_rpay", ignorenulls=True).over(w))
        .filter(F.col("_side") == 1)
    )

    if tolerance_seconds is not None:
        gap = F.unix_timestamp("_asof_t") - F.unix_timestamp(
            F.col("_m")[f"{right_ts}{suffix}"]
        )
        if not backward:
            gap = -gap
        matched = matched.withColumn(
            "_m", F.when(gap <= F.lit(tolerance_seconds), F.col("_m"))
        )

    out_cols = (
        [F.col(c) for c in on]
        + [F.col("_asof_t").alias(left_ts)]
        + [F.col(f"_lpay.{c}").alias(c) for c in left_keep]
        + [F.col(f"_m.{right_ts}{suffix}").alias(f"{right_ts}{suffix}")]
        + [F.col(f"_m.{c}{suffix}").alias(f"{c}{suffix}") for c in right_cols]
    )
    return matched.select(*out_cols)


def asof_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_seconds: int | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Backward as-of join for a SMALL right side (a dimension timeline:
    per-key config/price/version history). The right side collapses to one
    sorted array per key and broadcast-joins onto the left — the big side
    is never shuffled or sorted at all, vs one Exchange for the union+
    window form. Per-row match is a JVM array scan (``filter`` +
    ``element_at(-1)``), O(R_key) per left row — right timelines must be
    small (thousands per key, not millions). Same match/tolerance
    semantics as ``asof_join(direction='backward')``."""
    payload = F.struct(
        F.col(right_ts).alias("t"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    timeline = right.groupBy(*on).agg(
        F.sort_array(F.collect_list(payload)).alias("_tl")
    )
    lts = F.col(left_ts)
    cand = F.filter(F.col("_tl"), lambda x: x["t"] <= lts)
    if tolerance_seconds is not None:
        cand = F.filter(
            cand,
            lambda x: F.unix_timestamp(lts) - F.unix_timestamp(x["t"])
            <= F.lit(tolerance_seconds),
        )
    # try_element_at: empty candidate set -> null (left-outer semantics),
    # where element_at would raise under ANSI mode
    m = F.try_element_at(cand, F.lit(-1))
    out = left.join(F.broadcast(timeline), on=on, how="left").withColumn(
        "_m", m
    )
    return out.select(
        *[c for c in left.columns],
        F.col("_m.t").alias(f"{right_ts}{suffix}"),
        *[F.col(f"_m.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner interval join: left rows whose ``left_ts`` falls inside a
    right row's ``[right_start, right_end]`` (inclusive), per equi-key.
    Output: all left columns + all right columns except the keys. Emits
    one row per matching (left, interval) pair — a left point inside k
    overlapping intervals yields k rows (same as the SQL inequality
    join it replaces). No duplicates per pair: each left point has
    exactly one bucket."""
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    b = F.lit(bucket_seconds)
    r = right.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp(right_start) / b),
                F.floor(F.unix_timestamp(right_end) / b),
            )
        ),
    )
    l = left.withColumn("_b", F.floor(F.unix_timestamp(left_ts) / b))
    joined = l.join(r, on=on + ["_b"], how="inner").filter(
        (F.col(left_ts) >= F.col(right_start))
        & (F.col(left_ts) <= F.col(right_end))
    )
    return joined.drop("_b")


def range_join_broadcast(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_start: str,
    right_end: str,
) -> DataFrame:
    """Interval join for a SMALL right side (per-key maintenance windows,
    campaign periods): plain broadcast equi-join on the keys + range
    filter. The big left side is never shuffled and no bucket replication
    of intervals is needed — prefer this whenever the interval table fits
    the broadcast threshold; ``range_join`` is the big-big path. Same
    output contract (one row per matching pair, inclusive bounds)."""
    return left.join(F.broadcast(right), on=on, how="inner").filter(
        (F.col(left_ts) >= F.col(right_start))
        & (F.col(left_ts) <= F.col(right_end))
    )


def time_weighted_avg(
    df: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str,
    value_col: str,
    value_decimals: int = 2,
) -> DataFrame:
    """Per-key time-weighted average of a step signal: each observation
    holds its value until the NEXT observation (last one carries no
    weight — its holding interval is unknown). The metric every
    monitoring/billing rollup actually wants when samples are uneven.

    Exactness: timestamps go through ``unix_micros`` (BIGINT — no
    seconds truncation; DuckDB twin is ``epoch_us``), values quantize to
    ``value_decimals`` dp BIGINTs, so the weighted sum is exact integer
    arithmetic with ONE terminal division. Headroom: |sum(v_q * dur_us)|
    <= max|v_q| * key_timespan_us — size ``value_decimals`` so that
    stays under 2^63 (2dp x 30-day spans x values <1e5 is ~1.5e17).

    Plan: one key-partitioned window (lead) + one combinable aggregate —
    the same single exchange both stages reuse.
    """
    # parquet NTZ timestamps: unix_micros only takes TIMESTAMP — cast
    # through it (session tz is UTC repo-wide, so this equals DuckDB's
    # epoch_us on the same values)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    vq = F.floor(F.col(value_col) * F.lit(float(10 ** value_decimals))).cast(
        "long"
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), vq.asc()
    )
    stepped = df.select(
        *key_cols,
        vq.alias("__vq"),
        (F.lead(us).over(w) - us).alias("__dur_us"),
    ).filter(F.col("__dur_us").isNotNull())
    agg = stepped.groupBy(*key_cols).agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("__dur_us").cast("long").alias("total_dur_us"),
        F.sum(F.col("__vq") * F.col("__dur_us")).cast("long").alias("__num"),
    )
    scale = 10 ** value_decimals
    return agg.select(
        *key_cols,
        "n_intervals",
        "total_dur_us",
        F.when(
            F.col("total_dur_us") > 0,
            F.floor(
                F.col("__num").cast("double")
                / (F.col("total_dur_us") * scale).cast("double")
                * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("twa_q"),
    )

def ewma(
    df: DataFrame,
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
) -> DataFrame:
    """Per-key exponentially-weighted moving average of a value
    sequence: s_1 = x_1, s_t = s_{t-1} * (1-α) + x_t * α, returning the
    FINAL smoothed value per key — the classic trend/level estimator
    for uneven telemetry where the last reading alone is too noisy.

    Cross-engine determinism without integers: the recurrence is
    inherently sequential, so instead of quantizing we make the FLOAT
    computation bit-reproducible — α is a dyadic rational (default 1/4;
    ``alpha_den`` must be a power of two so α and 1-α are exact
    doubles), both engines fold the IDENTICAL parquet doubles through
    the IDENTICAL expression ``s*(1-α) + x*α`` in the IDENTICAL
    (order_cols) order, and IEEE-754 ops are deterministic. Only the
    6dp floor at the end is belt-and-braces.

    Plan/scale: one groupBy on the key — ``sort_array(collect_list)``
    + ``F.aggregate`` fold, all JVM-side (no Python). The collected
    array is bounded by the PER-KEY sequence length (events per user),
    not corpus size; EWMA is sequential per key by definition, so
    parallelism comes from key cardinality — exactly how a 1000-executor
    cluster wants it. Keys with pathological sequence lengths should be
    windowed by time first (the [[time_weighted_avg]] pattern).

    ``order_cols`` must totally order rows within a key (ties would
    make the fold order — and thus the float result — nondeterministic).

    Returns (key..., n_events, ewma).
    """
    if alpha_den & (alpha_den - 1) or not 0 < alpha_num < alpha_den:
        raise ValueError(
            "alpha must be a dyadic rational in (0,1): alpha_den a "
            f"power of two, got {alpha_num}/{alpha_den}"
        )
    a = alpha_num / alpha_den
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    folded = F.aggregate(
        F.slice(F.col("__seq"), 2, F.size(F.col("__seq")) - 1),
        F.element_at(F.col("__seq"), 1)["v"],
        lambda acc, x: acc * F.lit(1.0 - a) + x["v"] * F.lit(a),
    )
    return (
        df.groupBy(*key_cols)
        .agg(arr.alias("__seq"))
        .select(
            *key_cols,
            F.size("__seq").cast("long").alias("n_events"),
            (F.floor(folded * F.lit(1e6)) / F.lit(1e6)).alias("ewma"),
        )
    )

def interval_union(
    df: DataFrame,
    key_cols: tuple[str, ...],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Per-key union of possibly-overlapping intervals — the classic
    gaps-and-islands reduction ("how much wall-clock was this user
    actually active, counting overlaps once"). Inputs are timestamp
    columns; rows with end < start are treated as points (clamped).

    Exact integer construction: ``unix_micros`` BIGINT endpoints; an
    island STARTS where the interval's start exceeds the running max of
    all previous ends (strictly — touching intervals merge); island id
    = running sum of start flags; ONE aggregate per island then one per
    key. Every window and both aggregates are keyed by ``key_cols`` —
    a single exchange end to end (AQE reuses it), no self-join, no
    sort of anything but the per-key sequence.

    Returns (key..., n_intervals, n_islands, covered_us, span_us):
    covered_us = Σ island lengths (overlaps counted once), span_us =
    max end − min start (so covered_us/span_us is the duty cycle).
    """
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.greatest(
        F.unix_micros(F.col(end_col).cast("timestamp")), s_us
    )
    ow = [s_us.asc(), e_us.asc()]
    w = Window.partitionBy(*key_cols).orderBy(*ow)
    prev_max_end = F.max(e_us).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.select(
        *key_cols,
        s_us.alias("__s"),
        e_us.alias("__e"),
        F.when(
            prev_max_end.isNull() | (s_us > prev_max_end), 1
        )
        .otherwise(0)
        .alias("__new_island"),
    )
    run = Window.partitionBy(*key_cols).orderBy(
        F.col("__s").asc(), F.col("__e").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    islands = flagged.withColumn(
        "__island", F.sum("__new_island").over(run)
    )
    per_island = islands.groupBy(*key_cols, "__island").agg(
        F.count("*").alias("__n"),
        F.min("__s").alias("__is"),
        F.max("__e").alias("__ie"),
    )
    return per_island.groupBy(*key_cols).agg(
        F.sum("__n").cast("long").alias("n_intervals"),
        F.count("*").cast("long").alias("n_islands"),
        F.sum(F.col("__ie") - F.col("__is")).cast("long").alias(
            "covered_us"
        ),
        (F.max("__ie") - F.min("__is")).cast("long").alias("span_us"),
    )


def holt_linear(
    df: DataFrame,
    key_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    alpha_num: int = 1,
    alpha_den: int = 4,
    beta_num: int = 1,
    beta_den: int = 8,
) -> DataFrame:
    """Per-key Holt linear (double-exponential) smoothing — [[ewma]]'s
    level estimator extended with a TREND state, the standard "where is
    this metric heading" forecaster for telemetry with drift:

        l_1 = x_1,  b_1 = x_2 - x_1
        l_t = α·x_t + (1-α)·(l_{t-1} + b_{t-1})
        b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}

    Same bit-reproducibility contract as ``ewma``: α and β are DYADIC
    rationals (exact doubles), both engines fold the identical parquet
    doubles through the identical expressions in the identical order,
    IEEE-754 does the rest; floor-6dp only at the emit. Same plan
    shape too — ONE groupBy on the key, ``sort_array(collect_list)`` +
    a struct-state ``F.aggregate`` fold, all JVM-side; the array is
    bounded by per-key sequence length. Keys with a single observation
    get trend 0. Returns (key..., n_events, level, trend, forecast)
    where forecast is the one-step-ahead ``level + trend``.
    """
    for num, den, name in (
        (alpha_num, alpha_den, "alpha"),
        (beta_num, beta_den, "beta"),
    ):
        if den & (den - 1) or not 0 < num < den:
            raise ValueError(
                f"{name} must be a dyadic rational in (0,1), got "
                f"{num}/{den}"
            )
    a = alpha_num / alpha_den
    b = beta_num / beta_den
    arr = F.sort_array(
        F.collect_list(
            F.struct(
                *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
                F.col(value_col).cast("double").alias("v"),
            )
        )
    )
    # F.get is null-safe out of range (ANSI-proof for singleton keys)
    x1 = F.get(F.col("__seq"), 0)["v"]
    x2 = F.get(F.col("__seq"), 1)["v"]
    init = F.struct(x1.alias("l"), (x2 - x1).alias("b"))

    def _step(acc, x):
        new_l = x["v"] * F.lit(a) + (acc["l"] + acc["b"]) * F.lit(1.0 - a)
        new_b = (new_l - acc["l"]) * F.lit(b) + acc["b"] * F.lit(1.0 - b)
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    # fold from t=2 (the Hyndman convention: l_1 = x_1, b_1 = x_2 - x_1,
    # recursion starts at t=2) — exactly-linear input then reproduces
    # l_t = x_t, b_t = slope bit-for-bit, pinned in tests
    folded = F.aggregate(
        F.slice(F.col("__seq"), 2, F.size(F.col("__seq")) - 1),
        init,
        _step,
    )
    single = F.size(F.col("__seq")) == 1
    lvl = F.when(single, x1).otherwise(F.col("__f")["l"])
    trd = F.when(single, F.lit(0.0)).otherwise(F.col("__f")["b"])
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        df.groupBy(*key_cols)
        .agg(arr.alias("__seq"))
        .withColumn("__f", folded)
        .select(
            *key_cols,
            F.size("__seq").cast("long").alias("n_events"),
            q6(lvl).alias("level"),
            q6(trd).alias("trend"),
            q6(lvl + trd).alias("forecast"),
        )
    )


def detect_gaps(
    df: DataFrame,
    ts_col: str,
    group_cols: tuple[str, ...],
    min_gap_seconds: int,
) -> DataFrame:
    """Coverage-gap detector per entity — the "where is the telemetry
    missing" report a resumable ingest needs before claiming a range is
    complete: one row per consecutive-event pair whose spacing exceeds
    ``min_gap_seconds``, emitting (group..., gap_start, gap_end,
    gap_seconds). The complement of [[interval_union]] (which merges
    what IS covered; this names what is not).

    EXACT: gap_seconds is a BIGINT difference of unix timestamps — no
    float durations. Tie order among duplicate timestamps cannot change
    the output: the ordered sequence of timestamp VALUES is the same
    under any tie permutation, and only values are emitted. Plan: ONE
    window (lag over the entity partition ordered by timestamp) — a
    single exchange on the entity key, map-side filter after; no join,
    no collect.
    """
    w = Window.partitionBy(*group_cols).orderBy(ts_col)
    prev = F.lag(F.col(ts_col)).over(w)
    # floor of the MICROSECOND difference — unix_timestamp() floors each
    # endpoint first, which over-counts by 1s whenever start's fraction
    # exceeds end's (the classic off-by-one the oracle catches)
    # cast handles TIMESTAMP_NTZ inputs (unix_micros requires TZ
    # timestamps; the session-zone shift cancels in the difference)
    gap = F.floor(
        (
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(prev.cast("timestamp"))
        )
        / F.lit(1000000.0)
    ).cast("long")
    return (
        df.select(
            *group_cols,
            prev.alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap.alias("gap_seconds"),
        )
        .filter(
            F.col("gap_start").isNotNull()
            & (F.col("gap_seconds") > min_gap_seconds)
        )
    )


def seasonal_profile_dow(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    quantize: int = 2,
) -> DataFrame:
    """Day-of-week seasonal profile per group — the additive seasonal
    component of the classical decomposition at weekly period: per
    (group, dow) the mean value, and ``seasonal`` = dow mean minus the
    group's overall mean. Subtracting it from raw values deseasonalizes
    a metric before [[holt_linear]] reads the trend —
    otherwise a weekly cycle masquerades as seven alternating trends.

    EXACT cross-engine: values integer-quantized; per-cell (n, sum)
    and the group totals are BIGINTs (cell sums re-aggregate into the
    totals — one shuffle feeds both); means and the seasonal offset are
    single fixed-order float expressions, floor-6dp. dow is ISO-stable
    via Spark's dayofweek (1=Sunday..7=Saturday, mirrored exactly in
    the oracle). Returns (group..., dow, n, sum_q, mean_q6,
    seasonal_q6) — at most 7 rows per group.
    """
    v = _quant_temporal(F.col(value_col), quantize)
    gl = list(group_cols)
    base = df.select(
        *gl,
        F.dayofweek(F.col(ts_col)).alias("dow"),
        v.alias("__v"),
    ).filter(F.col("__v").isNotNull() & F.col("dow").isNotNull())
    cells = base.groupBy(*gl, "dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__v").cast("long").alias("sum_q"),
    )
    tot = cells.groupBy(*gl).agg(
        F.sum("n").cast("long").alias("__nn"),
        F.sum("sum_q").cast("long").alias("__ss"),
    )
    j = (
        cells.join(F.broadcast(tot), gl)
        if gl
        else cells.crossJoin(F.broadcast(tot))
    )
    scale = float(10**quantize)
    mean = F.col("sum_q").cast("double") / F.col("n").cast("double") / F.lit(
        scale
    )
    overall = (
        F.col("__ss").cast("double") / F.col("__nn").cast("double")
        / F.lit(scale)
    )
    return j.select(
        *gl,
        "dow",
        "n",
        "sum_q",
        (F.floor(mean * F.lit(1e6)) / F.lit(1e6)).alias("mean_q6"),
        (F.floor((mean - overall) * F.lit(1e6)) / F.lit(1e6)).alias(
            "seasonal_q6"
        ),
    )


def _quant_temporal(col, quantize: int):
    """round(v * 10^q) as BIGINT — same half-away-from-zero contract as
    functions/curate.py _quant (duplicated to keep operator modules
    import-independent)."""
    return F.round(col.cast("double") * F.lit(10**quantize), 0).cast("long")
