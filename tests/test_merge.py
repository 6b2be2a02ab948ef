"""MERGE INTO / upsert + SCD2 (operators/merge.py) — the warehouse write
surface the reference's append-only sink lacks. Semantics pinned against
hand-computed expectations; the snapshot-table wrapper checked for
transactional visibility (old version intact, head merged)."""

import pytest
from pyspark.sql import Row, functions as F

from png_from_pdf_extracter_spark.operators.merge import (
    MergeCardinalityError,
    merge_upsert,
    scd2_apply,
)
from png_from_pdf_extracter_spark.sources.snapshots import SnapshotTable


def _target(spark):
    return spark.createDataFrame(
        [
            Row(k=1, val="a", n=10),
            Row(k=2, val="b", n=20),
            Row(k=3, val=None, n=30),  # null data col: presence markers matter
        ]
    )


def _source(spark):
    return spark.createDataFrame(
        [
            Row(k=2, val="B2", n=200, deleted=False),  # update
            Row(k=3, val="x", n=0, deleted=True),  # delete
            Row(k=4, val="d", n=40, deleted=False),  # insert
            Row(k=5, val="e", n=50, deleted=True),  # delete of absent key: no-op
        ]
    )


def test_merge_upsert_semantics(spark):
    out = merge_upsert(
        _target(spark), _source(spark), ["k"], delete_col="deleted"
    )
    rows = {r["k"]: (r["val"], r["n"]) for r in out.collect()}
    assert rows == {
        1: ("a", 10),  # target-only: kept
        2: ("B2", 200),  # matched: updated
        4: ("d", 40),  # source-only: inserted
    }
    assert "deleted" not in out.columns


def test_merge_upsert_broadcast_plan(spark):
    """broadcast_source keeps the big target out of any shuffle: the plan
    must contain a BroadcastHashJoin and no SortMergeJoin."""
    out = merge_upsert(
        _target(spark),
        _source(spark),
        ["k"],
        delete_col="deleted",
        broadcast_source=True,
        check_cardinality=False,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = {r["k"]: (r["val"], r["n"]) for r in out.collect()}
    assert rows == {1: ("a", 10), 2: ("B2", 200), 4: ("d", 40)}


def test_merge_cardinality_error(spark):
    dup_source = spark.createDataFrame([Row(k=2, val="x", n=1), Row(k=2, val="y", n=2)])
    with pytest.raises(MergeCardinalityError):
        merge_upsert(_target(spark), dup_source, ["k"])


def test_merge_without_delete_col(spark):
    src = spark.createDataFrame([Row(k=1, val="A", n=100), Row(k=9, val="i", n=9)])
    out = merge_upsert(_target(spark), src, ["k"])
    rows = {r["k"]: (r["val"], r["n"]) for r in out.collect()}
    assert rows == {1: ("A", 100), 2: ("b", 20), 3: (None, 30), 9: ("i", 9)}


def _dim(spark):
    return spark.createDataFrame(
        [
            # key 1: one closed + one current version
            Row(k=1, seg="bronze", valid_from=1, valid_to=5, is_current=False),
            Row(k=1, seg="silver", valid_from=5, valid_to=None, is_current=True),
            Row(k=2, seg="gold", valid_from=3, valid_to=None, is_current=True),
        ]
    )


def test_scd2_change_noop_and_insert(spark):
    updates = spark.createDataFrame(
        [
            Row(k=1, seg="gold", effective_ts=9),  # change: close + open
            Row(k=2, seg="gold", effective_ts=9),  # same attrs: no-op
            Row(k=7, seg="new", effective_ts=9),  # unseen key: fresh current
        ]
    )
    out = scd2_apply(_dim(spark), updates, ["k"], ["seg"], "effective_ts")
    rows = sorted(
        (r["k"], r["seg"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        (1, "bronze", 1, 5, False),  # history untouched
        (1, "gold", 9, None, True),  # new current
        (1, "silver", 5, 9, False),  # closed at update ts
        (2, "gold", 3, None, True),  # no-op: current survives
        (7, "new", 9, None, True),  # insert
    ]
    # exactly one current row per key, always
    cur = out.filter("is_current").groupBy("k").count()
    assert cur.filter(F.col("count") > 1).count() == 0


def test_scd2_idempotent_reapply(spark):
    """Re-applying the same batch is a no-op — the new current rows equal
    the update attrs, so nothing changes (at-least-once tolerance)."""
    updates = spark.createDataFrame([Row(k=1, seg="gold", effective_ts=9)])
    once = scd2_apply(_dim(spark), updates, ["k"], ["seg"], "effective_ts")
    twice = scd2_apply(once, updates, ["k"], ["seg"], "effective_ts")
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_snapshot_table_merge_transactional(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "docs")
    v1 = t.append(_target(spark))
    src = _source(spark)
    v2 = t.merge(spark, src, ["k"], delete_col="deleted")
    assert v2 == v1 + 1
    # old snapshot untouched (time travel), head reflects the merge
    assert t.read(spark, version=v1).count() == 3
    merged = {r["k"] for r in t.read(spark).collect()}
    assert merged == {1, 2, 4}
    assert t.manifest()["op"] == "overwrite"
