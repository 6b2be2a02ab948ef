"""Property-based tests (hypothesis) for the round-2 operators: the
skewed as-of join must equal the plain as-of join on ANY input, and
sequence packing must preserve tokens and respect offset arithmetic on
ANY token distribution. Randomized + shrinking coverage on top of the
hand-built fixtures in test_temporal.py / test_curate.py.
"""

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from png_from_pdf_extracter_spark.functions import curate
from png_from_pdf_extracter_spark.operators.temporal import (
    asof_join,
    asof_join_skewed,
)

BASE = datetime(2024, 6, 1)

# (key, seconds-offset, payload) event lists — small alphabets force key
# collisions and timestamp ties, the interesting cases
_events = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=0, max_value=20_000),
        st.integers(min_value=0, max_value=10**6),
    ),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(left=_events, right=_events, bucket=st.sampled_from([60, 900, 7200]))
def test_asof_skewed_equals_plain(spark, left, right, bucket):
    """For any input and any bucket width, the skewed split-with-carry-in
    plan must produce exactly the plain union+window result. Right rows
    are deduped per (key, ts) — the documented tie contract of both."""
    rseen = {}
    for k, s, v in right:
        rseen[(k, s)] = v
    rrows = [
        (k, BASE + timedelta(seconds=s), float(v))
        for (k, s), v in rseen.items()
    ]
    lrows = [
        (k, BASE + timedelta(seconds=s), i)
        for i, (k, s, _v) in enumerate(left)
    ]
    ldf = spark.createDataFrame(
        lrows, "key string, lts timestamp, lid int"
    ) if lrows else spark.createDataFrame([], "key string, lts timestamp, lid int")
    rdf = spark.createDataFrame(
        rrows, "key string, rts timestamp, val double"
    ) if rrows else spark.createDataFrame([], "key string, rts timestamp, val double")

    plain = asof_join(ldf, rdf, ["key"], "lts", "rts", ["val"])
    skewed = asof_join_skewed(
        ldf, rdf, ["key"], "lts", "rts", ["val"], bucket_seconds=bucket
    )
    gp = sorted((r["lid"], r["val_right"]) for r in plain.collect())
    gs = sorted((r["lid"], r["val_right"]) for r in skewed.collect())
    assert gp == gs
    assert len(gs) == len(lrows)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=5000), min_size=1, max_size=30),
    target=st.sampled_from([1, 100, 2000]),
)
def test_sequence_pack_invariants(spark, toks, target):
    """For any token distribution: (1) seq_idx is nondecreasing in doc
    order, (2) each doc's seq_idx equals floor(exclusive-prefix-sum /
    target) — i.e. tokens are neither lost nor double-counted, (3) the
    first doc always lands in sequence 0."""
    rows = [("s", i, t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "source string, doc_id int, n_tok long")
    got = {
        r["doc_id"]: r["seq_idx"]
        for r in curate.sequence_pack(df, "source", "doc_id", "n_tok", target).collect()
    }
    run = 0
    prev = 0
    for i, t in enumerate(toks):
        expect = run // target
        assert got[i] == expect, (i, got[i], expect)
        assert got[i] >= prev
        prev = got[i]
        run += t
    assert got[0] == 0
