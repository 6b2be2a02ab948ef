"""As-of join and bucketized range join: hand-built expectations plus a
cross-check against the naive (explosive) SQL formulation they replace."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators.temporal import (
    asof_join,
    asof_join_broadcast,
    asof_join_skewed,
    range_join,
    range_join_broadcast,
)


def _ts(m):
    return datetime(2024, 1, 1, 0, m)


@pytest.fixture(scope="module")
def quotes(spark):
    # right side: one quote stream per key, unique (key, ts)
    rows = [
        ("a", _ts(0), 100.0),
        ("a", _ts(10), 110.0),
        ("a", _ts(20), 120.0),
        ("b", _ts(5), 50.0),
    ]
    return spark.createDataFrame(rows, "key string, qts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        ("a", _ts(0), 1),   # tie with quote @0 -> inclusive match
        ("a", _ts(9), 2),   # -> quote @0
        ("a", _ts(10), 3),  # tie -> quote @10
        ("a", _ts(25), 4),  # -> quote @20
        ("b", _ts(4), 5),   # before first quote -> null (backward)
        ("b", _ts(6), 6),   # -> quote @5
        ("c", _ts(7), 7),   # key with no quotes -> null
        ("a", _ts(9), 8),   # duplicate LEFT timestamp (same as tid=2):
                            # both rows must match independently
    ]
    return spark.createDataFrame(rows, "key string, tts timestamp, tid int")


def test_asof_backward(spark, quotes, trades):
    out = asof_join(
        trades, quotes, ["key"], "tts", "qts", ["px"]
    )
    got = {
        r["tid"]: r["px_right"]
        for r in out.select("tid", "px_right").collect()
    }
    assert got == {1: 100.0, 2: 100.0, 3: 110.0, 4: 120.0,
                   5: None, 6: 50.0, 7: None, 8: 100.0}
    # left-outer: every trade survives, exactly once
    assert out.count() == trades.count()


def test_asof_forward(spark, quotes, trades):
    out = asof_join(
        trades, quotes, ["key"], "tts", "qts", ["px"],
        direction="forward",
    )
    got = {
        r["tid"]: r["px_right"]
        for r in out.select("tid", "px_right").collect()
    }
    assert got == {1: 100.0, 2: 110.0, 3: 110.0, 4: None,
                   5: 50.0, 6: None, 7: None, 8: 110.0}


def test_asof_tolerance(spark, quotes, trades):
    out = asof_join(
        trades, quotes, ["key"], "tts", "qts", ["px"],
        tolerance_seconds=5 * 60,
    )
    got = {
        r["tid"]: r["px_right"]
        for r in out.select("tid", "px_right").collect()
    }
    # tid=2 (9 min after quote @0) and tid=4 (5 min after quote @20 -> kept,
    # inclusive) per the <= bound
    assert got == {1: 100.0, 2: None, 3: 110.0, 4: 120.0,
                   5: None, 6: 50.0, 7: None, 8: None}


def test_asof_matches_naive_join(spark):
    """Union+window result == naive join+row_number on generated data."""
    import random

    rng = random.Random(99)
    base = datetime(2024, 3, 1)
    lrows = [
        (f"k{rng.randrange(6)}", base + timedelta(seconds=rng.randrange(10_000)), i)
        for i in range(300)
    ]
    rrows = list(
        {
            (f"k{rng.randrange(6)}", base + timedelta(seconds=rng.randrange(10_000))): v
            for v in range(150)
        }.items()
    )
    rrows = [(k, t, float(v)) for (k, t), v in rrows]
    left = spark.createDataFrame(lrows, "key string, lts timestamp, lid int")
    right = spark.createDataFrame(rrows, "key string, rts timestamp, val double")

    out = asof_join(left, right, ["key"], "lts", "rts", ["val"])

    w = Window.partitionBy("lid").orderBy(F.col("rts").desc())
    naive = (
        left.join(right, on="key", how="left")
        .filter(F.col("rts").isNull() | (F.col("rts") <= F.col("lts")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("lid", "val")
    )
    # naive drops left rows whose only candidates are in the future;
    # compare on the as-of values for ids both produce, then check totals
    got = {r["lid"]: r["val_right"] for r in out.select("lid", "val_right").collect()}
    want = {r["lid"]: r["val"] for r in naive.collect()}
    assert out.count() == left.count()
    for lid, v in want.items():
        assert got[lid] == v, lid


def test_asof_broadcast_matches_shuffle_form(spark, quotes, trades):
    """Broadcast variant == union+window variant, including tolerance."""
    for tol in (None, 5 * 60):
        a = asof_join(trades, quotes, ["key"], "tts", "qts", ["px"],
                      tolerance_seconds=tol)
        b = asof_join_broadcast(trades, quotes, ["key"], "tts", "qts",
                                ["px"], tolerance_seconds=tol)
        ga = {r["tid"]: (r["px_right"], r["qts_right"]) for r in a.collect()}
        gb = {r["tid"]: (r["px_right"], r["qts_right"]) for r in b.collect()}
        assert ga == gb, tol


def test_asof_broadcast_left_never_shuffles(spark, tmp_path):
    """The big (left) side must not hit an Exchange: only the tiny
    timeline build shuffles, then broadcasts."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [("a", _ts(5), 1)], "key string, tts timestamp, tid int"
    ).write.parquet(lp)
    spark.createDataFrame(
        [("a", _ts(0), 1.0)], "key string, qts timestamp, px double"
    ).write.parquet(rp)
    out = asof_join_broadcast(
        spark.read.parquet(lp), spark.read.parquet(rp),
        ["key"], "tts", "qts", ["px"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan  # right agg only


def test_asof_skewed_matches_plain_small(spark, quotes, trades):
    """Skewed variant == plain as-of on the hand-built fixture, across
    directions, tolerances, and bucket widths (including widths smaller
    than the data span, which force carry-ins)."""
    for direction in ("backward", "forward"):
        for tol in (None, 5 * 60):
            for bucket in (60, 300, 86400):
                a = asof_join(trades, quotes, ["key"], "tts", "qts", ["px"],
                              direction=direction, tolerance_seconds=tol)
                b = asof_join_skewed(
                    trades, quotes, ["key"], "tts", "qts", ["px"],
                    bucket_seconds=bucket, direction=direction,
                    tolerance_seconds=tol,
                )
                ga = sorted(
                    (r["tid"], r["px_right"], r["qts_right"])
                    for r in a.collect()
                )
                gb = sorted(
                    (r["tid"], r["px_right"], r["qts_right"])
                    for r in b.collect()
                )
                assert ga == gb, (direction, tol, bucket)


def test_asof_skewed_hot_key(spark):
    """One key holds 50% of all rows; the skewed variant must (a) agree
    with the plain as-of join exactly and (b) split the hot key's window
    across many (key, bucket) groups instead of one."""
    import random

    rng = random.Random(7)
    base = datetime(2024, 3, 1)
    span = 50_000  # seconds

    def key_for(i):
        return "hot" if i % 2 == 0 else f"k{i % 11}"

    lrows = [
        (key_for(i), base + timedelta(seconds=rng.randrange(span)), i)
        for i in range(2000)
    ]
    rseen = {}
    for v in range(1000):
        rseen[(key_for(v), base + timedelta(seconds=rng.randrange(span)))] = v
    rrows = [(k, t, float(v)) for (k, t), v in rseen.items()]
    left = spark.createDataFrame(lrows, "key string, lts timestamp, lid int")
    right = spark.createDataFrame(rrows, "key string, rts timestamp, val double")

    bucket = 5000
    plain = asof_join(left, right, ["key"], "lts", "rts", ["val"])
    skewed = asof_join_skewed(
        left, right, ["key"], "lts", "rts", ["val"], bucket_seconds=bucket
    )
    gp = sorted((r["lid"], r["val_right"]) for r in plain.collect())
    gs = sorted((r["lid"], r["val_right"]) for r in skewed.collect())
    assert gp == gs
    assert skewed.count() == left.count()

    # the hot key's left rows span many window groups (keys x buckets)
    n_groups = (
        left.filter(F.col("key") == "hot")
        .select(F.floor(F.unix_timestamp("lts") / F.lit(bucket)).alias("b"))
        .distinct()
        .count()
    )
    assert n_groups >= 8, n_groups


def test_asof_skewed_validation(spark, quotes, trades):
    with pytest.raises(ValueError, match="bucket_seconds"):
        asof_join_skewed(trades, quotes, ["key"], "tts", "qts", ["px"],
                         bucket_seconds=0)
    with pytest.raises(ValueError, match="direction"):
        asof_join_skewed(trades, quotes, ["key"], "tts", "qts", ["px"],
                         direction="sideways")


def test_range_join_pairs(spark):
    iv = spark.createDataFrame(
        [
            ("a", _ts(0), _ts(10), "w1"),
            ("a", _ts(8), _ts(12), "w2"),  # overlaps w1
            ("b", _ts(0), _ts(1), "w3"),
        ],
        "key string, start timestamp, end timestamp, wname string",
    )
    pts = spark.createDataFrame(
        [
            ("a", _ts(9), 1),   # inside w1 AND w2 -> 2 rows
            ("a", _ts(10), 2),  # boundary inclusive w1, inside w2
            ("a", _ts(13), 3),  # outside all
            ("b", _ts(1), 4),   # boundary w3
            ("c", _ts(0), 5),   # no intervals for key
        ],
        "key string, pts timestamp, pid int",
    )
    for bucket in (60, 300, 7200):  # invariant under bucket width
        out = range_join(pts, iv, ["key"], "pts", "start", "end",
                         bucket_seconds=bucket)
        pairs = {(r["pid"], r["wname"]) for r in out.collect()}
        assert pairs == {(1, "w1"), (1, "w2"), (2, "w1"), (2, "w2"),
                         (4, "w3")}, bucket


def test_range_join_broadcast_matches_bucketized(spark):
    iv = spark.createDataFrame(
        [
            ("a", _ts(0), _ts(10), "w1"),
            ("a", _ts(8), _ts(12), "w2"),
            ("b", _ts(0), _ts(1), "w3"),
        ],
        "key string, start timestamp, end timestamp, wname string",
    )
    pts = spark.createDataFrame(
        [("a", _ts(9), 1), ("a", _ts(10), 2), ("a", _ts(13), 3),
         ("b", _ts(1), 4), ("c", _ts(0), 5)],
        "key string, pts timestamp, pid int",
    )
    bc = {(r["pid"], r["wname"])
          for r in range_join_broadcast(pts, iv, ["key"], "pts",
                                        "start", "end").collect()}
    bk = {(r["pid"], r["wname"])
          for r in range_join(pts, iv, ["key"], "pts", "start", "end",
                              bucket_seconds=300).collect()}
    assert bc == bk == {(1, "w1"), (1, "w2"), (2, "w1"), (2, "w2"),
                        (4, "w3")}


def test_range_join_rejects_bad_bucket(spark):
    df = spark.range(1)
    with pytest.raises(ValueError):
        range_join(df, df, ["id"], "id", "id", "id", bucket_seconds=0)


# ------------------------------------------------------ time-weighted avg

def test_time_weighted_avg_hand_computed(spark):
    """value 10 held 3s, value 20 held 1s -> twa = 12.5; the final
    observation carries no weight."""
    import datetime as dt
    import math

    from png_from_pdf_extracter_spark.operators.temporal import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(seconds=3), 20.0),
        (1, t0 + dt.timedelta(seconds=4), 99.0),  # no weight
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz, v double")
    r = time_weighted_avg(df, ("k",), "ts", "v").collect()[0]
    assert r["n_intervals"] == 2
    assert r["total_dur_us"] == 4_000_000
    expect = (1000 * 3_000_000 + 2000 * 1_000_000) / (4_000_000 * 100)
    assert r["twa_q"] == math.floor(expect * 1e6) / 1e6


def test_time_weighted_avg_single_event_emits_nothing(spark):
    import datetime as dt

    from png_from_pdf_extracter_spark.operators.temporal import (
        time_weighted_avg,
    )

    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1), 5.0)],
        "k long, ts timestamp_ntz, v double",
    )
    assert time_weighted_avg(df, ("k",), "ts", "v").count() == 0


def test_time_weighted_avg_sub_second_intervals(spark):
    """Micros matter: 250ms at 100 then 750ms at 0 -> twa 25.0 — a
    seconds-truncating implementation would return 0/0."""
    import datetime as dt

    from png_from_pdf_extracter_spark.operators.temporal import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        (1, t0, 100.0),
        (1, t0 + dt.timedelta(milliseconds=250), 0.0),
        (1, t0 + dt.timedelta(milliseconds=1000), 0.0),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp_ntz, v double")
    r = time_weighted_avg(df, ("k",), "ts", "v").collect()[0]
    assert r["total_dur_us"] == 1_000_000
    assert r["twa_q"] == 25.0


# ---- ewma ----

import pytest as _pytest

from png_from_pdf_extracter_spark.operators.temporal import ewma


def _ev_df(spark, vals, order=None):
    order = order if order is not None else list(range(len(vals)))
    return spark.createDataFrame(
        [("k", int(i), float(v)) for i, v in zip(order, vals)],
        "k string, i long, v double",
    )


def test_ewma_single_observation_is_value(spark):
    r = ewma(_ev_df(spark, [42.5]), ("k",), ("i",), "v").collect()[0]
    assert r["ewma"] == 42.5 and r["n_events"] == 1


def test_ewma_closed_form(spark):
    # s1=0, s2=0*.75+1*.25=0.25, s3=0.25*.75+0*.25=0.1875 (exact dyadic)
    r = ewma(_ev_df(spark, [0, 1, 0]), ("k",), ("i",), "v").collect()[0]
    assert r["ewma"] == 0.1875


def test_ewma_respects_order_cols_not_insertion(spark):
    # same multiset, reversed order column: fold runs 2 then 1 then 0
    fwd = ewma(_ev_df(spark, [0, 1, 2]), ("k",), ("i",), "v").collect()[0]
    rev = ewma(
        _ev_df(spark, [0, 1, 2], order=[2, 1, 0]), ("k",), ("i",), "v"
    ).collect()[0]
    # fwd: ((0*.75)+.25)*.75 + 2*.25 = 0.6875; rev: ((2*.75)+.25)*.75+0
    assert (fwd["ewma"], rev["ewma"]) == (0.6875, 1.3125)


def test_ewma_rejects_non_dyadic_alpha(spark):
    with _pytest.raises(ValueError):
        ewma(_ev_df(spark, [1]), ("k",), ("i",), "v", 1, 3)


# ---- interval_union ----

from png_from_pdf_extracter_spark.operators.temporal import interval_union


def _iv_df(spark, rows):
    return spark.createDataFrame(
        [
            (
                "k",
                f"2026-01-01 00:00:{s:02d}",
                f"2026-01-01 00:00:{e:02d}",
            )
            for s, e in rows
        ],
        "k string, start_ts string, end_ts string",
    ).select(
        "k",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )


def test_interval_union_merges_overlaps_once(spark):
    # [0,10] [5,15] overlap -> one 15s island; [20,25] separate
    r = interval_union(
        _iv_df(spark, [(0, 10), (5, 15), (20, 25)]),
        ("k",), "start_ts", "end_ts",
    ).collect()[0]
    assert (r["n_intervals"], r["n_islands"]) == (3, 2)
    assert r["covered_us"] == 20_000_000  # 15s + 5s
    assert r["span_us"] == 25_000_000


def test_interval_union_touching_intervals_merge(spark):
    # end == next start: strictly-greater island test merges them
    r = interval_union(
        _iv_df(spark, [(0, 5), (5, 10)]), ("k",), "start_ts", "end_ts"
    ).collect()[0]
    assert r["n_islands"] == 1 and r["covered_us"] == 10_000_000


def test_interval_union_clamps_inverted_to_points(spark):
    # end < start -> zero-length point; contributes nothing to coverage
    r = interval_union(
        _iv_df(spark, [(10, 3), (20, 22)]), ("k",), "start_ts", "end_ts"
    ).collect()[0]
    assert (r["n_islands"], r["covered_us"]) == (2, 2_000_000)


# ---- holt_linear ----

from png_from_pdf_extracter_spark.operators.temporal import (  # noqa: E402
    holt_linear,
)


def test_holt_linear_exact_on_linear_sequence(spark):
    # x_t = 3 + 2t: level tracks x_t exactly, trend = 2, forecast = x_{t+1}
    df = spark.createDataFrame(
        [("k", t, 3.0 + 2.0 * t) for t in range(1, 12)],
        "k string, t long, v double",
    )
    r = holt_linear(df, ("k",), ("t",), "v").collect()[0]
    assert r["level"] == 3.0 + 2.0 * 11
    assert r["trend"] == 2.0
    assert r["forecast"] == 3.0 + 2.0 * 12
    assert r["n_events"] == 11


def test_holt_linear_matches_python_fold(spark):
    import math
    import random

    rng = random.Random(31)
    vals = [rng.uniform(0, 100) for _ in range(30)]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)],
        "k string, i long, v double",
    )
    a, b = 0.25, 0.125
    l, tr = vals[0], vals[1] - vals[0]
    for x in vals[1:]:
        nl = x * a + (l + tr) * (1.0 - a)
        tr = (nl - l) * b + tr * (1.0 - b)
        l = nl
    r = holt_linear(df, ("k",), ("i",), "v").collect()[0]
    assert r["level"] == math.floor(l * 1e6) / 1e6
    assert r["trend"] == math.floor(tr * 1e6) / 1e6
    assert r["forecast"] == math.floor((l + tr) * 1e6) / 1e6


def test_holt_linear_singleton_and_validation(spark):
    import pytest

    df = spark.createDataFrame([("k", 1, 7.5)], "k string, t long, v double")
    r = holt_linear(df, ("k",), ("t",), "v").collect()[0]
    assert r["level"] == 7.5 and r["trend"] == 0.0 and r["forecast"] == 7.5
    with pytest.raises(ValueError):
        holt_linear(df, ("k",), ("t",), "v", alpha_den=3)
    with pytest.raises(ValueError):
        holt_linear(df, ("k",), ("t",), "v", beta_num=8, beta_den=8)


# ---- gap detection / seasonal dow profile ----

from png_from_pdf_extracter_spark.operators.temporal import (  # noqa: E402
    detect_gaps,
    seasonal_profile_dow,
)


def test_detect_gaps_basic(spark):
    rows = [
        ("u", "2024-01-01 00:00:00"),
        ("u", "2024-01-01 00:30:00"),
        ("u", "2024-01-01 09:00:00"),  # 8.5h gap
        ("v", "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user string, ts string").select(
        "user", F.col("ts").cast("timestamp").alias("ts")
    )
    out = detect_gaps(df, "ts", ("user",), min_gap_seconds=3600).collect()
    assert len(out) == 1
    g = out[0]
    assert g["user"] == "u" and g["gap_seconds"] == 30600
    assert str(g["gap_start"]) == "2024-01-01 00:30:00"


def test_detect_gaps_duplicate_ts_deterministic(spark):
    rows = [("u", "2024-01-01 00:00:00")] * 3 + [
        ("u", "2024-01-01 02:00:00")
    ]
    df = spark.createDataFrame(rows, "user string, ts string").select(
        "user", F.col("ts").cast("timestamp").alias("ts")
    )
    out = detect_gaps(df, "ts", ("user",), min_gap_seconds=3600)
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, detect_gaps(
        df.repartition(5), "ts", ("user",), 3600
    ).collect()))
    assert a == b and len(a) == 1 and a[0][3] == 7200


def test_seasonal_dow_profile(spark):
    # Sundays value 10, Mondays value 30 -> overall 20, seasonal +-10
    rows = [
        ("e", "2024-01-07 12:00:00", 10.0),
        ("e", "2024-01-14 12:00:00", 10.0),
        ("e", "2024-01-08 12:00:00", 30.0),
        ("e", "2024-01-15 12:00:00", 30.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double"
    ).select(
        "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
    )
    out = {
        r["dow"]: r
        for r in seasonal_profile_dow(
            df, "ts", "value", ("event_type",)
        ).collect()
    }
    assert out[1]["mean_q6"] == 10.0 and out[1]["seasonal_q6"] == -10.0
    assert out[2]["mean_q6"] == 30.0 and out[2]["seasonal_q6"] == 10.0
    assert out[1]["n"] == 2 and out[1]["sum_q"] == 2000
