"""Bloom-prefiltered join reduction (operators/bloom.py).

The contract under test: the Bloom structure is probabilistic but the JOIN
RESULTS ARE EXACT — false positives are re-verified, false negatives are
impossible — so every configuration (including a deliberately undersized,
collision-heavy bitmap) must match the plain anti/semi join row-for-row.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.operators.bloom import (
    bloom_anti_join,
    bloom_semi_join,
    build_bloom,
    might_contain,
)


@pytest.fixture(scope="module")
def probe(spark):
    return spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )


@pytest.fixture(scope="module")
def seen(spark):
    # every third key, with duplicates (the build side need not be distinct)
    base = spark.range(0, 5000, 3).select(F.col("id").alias("k"))
    return base.unionAll(base)


def _sorted_keys(df):
    return [r["k"] for r in df.select("k").orderBy("k").collect()]


def test_anti_join_exact(spark, probe, seen):
    got = bloom_anti_join(probe, seen, "k", n_bits=1 << 14)
    want = probe.join(seen.distinct(), "k", "left_anti")
    assert _sorted_keys(got) == _sorted_keys(want)
    assert got.columns == probe.columns


def test_anti_join_exact_undersized_bitmap(spark, probe, seen):
    # 256 bits for ~1.7k keys: the filter is saturated (nearly all probes
    # collide positive) — results must STILL be exact, just without the
    # map-side savings
    got = bloom_anti_join(probe, seen, "k", n_bits=256, n_hashes=2)
    want = probe.join(seen.distinct(), "k", "left_anti")
    assert _sorted_keys(got) == _sorted_keys(want)


def test_semi_join_exact(spark, probe, seen):
    got = bloom_semi_join(probe, seen, "k", n_bits=1 << 14)
    want = probe.join(seen.distinct(), "k", "left_semi")
    assert _sorted_keys(got) == _sorted_keys(want)


def test_null_keys_kept_by_anti_dropped_by_semi(spark):
    probe = spark.createDataFrame(
        [Row(k=1), Row(k=None), Row(k=8)], "k int"
    )
    seen = spark.createDataFrame([Row(k=1)], "k int")
    anti = bloom_anti_join(probe, seen, "k", n_bits=1 << 10)
    semi = bloom_semi_join(probe, seen, "k", n_bits=1 << 10)
    assert sorted(
        (r["k"] for r in anti.collect()), key=lambda x: (x is None, x)
    ) == [8, None]
    assert [r["k"] for r in semi.collect()] == [1]


def test_no_false_negatives_and_low_fpp(spark):
    keys = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = build_bloom(keys, "k", n_bits=1 << 16, n_hashes=5)
    # every inserted key must probe positive
    members = keys.filter(
        might_contain(F.col("k"), bloom, 1 << 16, 5)
    ).count()
    assert members == 2000
    # disjoint keys: false-positive rate should be near the design point
    # (~1% for m/n=32, k=5); assert an order-of-magnitude bound
    outside = spark.range(10_000, 30_000).select(F.col("id").alias("k"))
    fp = outside.filter(might_contain(F.col("k"), bloom, 1 << 16, 5)).count()
    assert fp / 20_000 < 0.05


def test_prefilter_avoids_shuffling_definite_misses(spark, probe, seen):
    # the definitely-unseen branch is a pure filter over the probe scan:
    # its plan must contain NO join/exchange. Build the same branch the
    # operator builds and pin the plan shape.
    bloom = build_bloom(seen, "k", n_bits=1 << 14, n_hashes=5)
    mc = might_contain(F.col("k"), bloom, 1 << 14, 5)
    branch = probe.filter(~F.coalesce(mc, F.lit(False)))
    plan = branch._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_bloom_resume_equals_broadcast_resume(spark):
    """The scale story made concrete: resuming via bloom_anti_join over the
    completed-partition keys yields EXACTLY the pending set the broadcast
    anti-join resume computes — so when the seen-set outgrows a broadcast
    at corpus scale, swapping the operator changes the plan, not the
    rows."""
    from pyspark.sql import functions as F

    from png_from_pdf_extracter_spark.datagen import GenConfig
    from png_from_pdf_extracter_spark.operators import pending_only
    from png_from_pdf_extracter_spark.operators.bloom import bloom_anti_join
    from png_from_pdf_extracter_spark.sources import generate_transcripts
    from png_from_pdf_extracter_spark.sources.transcripts import (
        with_partition_id,
    )

    t = with_partition_id(
        generate_transcripts(spark, GenConfig(seed=3, n_convs=40)),
        n_buckets=16,
    )
    completed = (
        t.select("partition_id").distinct().filter(F.col("partition_id") % 3 == 0)
    )
    via_broadcast = pending_only(t, completed)
    via_bloom = bloom_anti_join(t, completed, "partition_id", n_bits=1 << 12)
    key = ["conv_id", "turn_idx"]
    a = {tuple(r) for r in via_broadcast.select(*key).collect()}
    b = {tuple(r) for r in via_bloom.select(*key).collect()}
    assert a == b and len(a) > 0
