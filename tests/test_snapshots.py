"""Snapshot-versioned tables (sources/snapshots.py): the Iceberg commit
protocol — atomic pointer flip, time travel, optimistic concurrency,
snapshot-atomic compaction, expiry + orphan cleanup. This is the
stronger commit the plain Catalog documents itself as lacking
(catalog.py:152-158: a reader racing the rename swap can see the path
missing; here readers always see exactly one committed snapshot)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.sources.snapshots import CommitConflict, SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "events")
    v1 = t.append(_df(spark, 0, 10))
    v2 = t.append(_df(spark, 10, 15))
    v3 = t.overwrite(_df(spark, 100, 103))
    assert (v1, v2, v3) == (1, 2, 3)

    # head = overwrite result; every older snapshot still readable as-of
    assert t.read(spark).count() == 3
    assert t.read(spark, version=1).count() == 10
    assert t.read(spark, version=2).count() == 15
    assert sorted(r["id"] for r in t.read(spark, 2).collect())[:3] == [0, 1, 2]

    m = t.manifest(2)
    assert m["op"] == "append" and m["parent"] == 1 and len(m["dirs"]) == 2


def test_pointer_flip_never_exposes_missing_table(spark, tmp_path):
    """The commit order (data -> manifest -> pointer flip) means a reader
    interleaved at ANY point sees the old snapshot until the instant the
    new one is complete — verified by reading between every step of a
    manually-unrolled commit."""
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 5))
    old = t.read(spark).count()

    # unrolled second commit: stage data, then claim manifest — a reader
    # at both points still sees v1
    staged = os.path.join(t.data, "v2-manual")
    _df(spark, 0, 50).write.parquet(staged)
    assert t.read(spark).count() == old
    t._claim(2, {"version": 2, "parent": 1, "op": "overwrite",
                 "dirs": [staged]})
    assert t.current_version() == 1
    assert t.read(spark).count() == old
    t._flip(2)
    assert t.read(spark).count() == 50


def test_commit_conflict_retries_on_fresh_head(spark, tmp_path):
    """Optimistic concurrency: if another writer claims the version first,
    the loser's retry re-reads the head — an append retried after a
    conflicting append must include BOTH writers' rows."""
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 5))

    real_claim = t._claim
    raced = {"done": False}

    def racing_claim(version, manifest):
        if not raced["done"]:
            raced["done"] = True
            # interleaved writer lands v2 before ours
            other = os.path.join(t.data, "v2-other")
            _df(spark, 500, 510).write.parquet(other)
            real_claim(version, {"version": version, "parent": 1,
                                 "op": "append",
                                 "dirs": list(t.manifest(1)["dirs"]) + [other]})
            t._flip(version)
        return real_claim(version, manifest)

    t._claim = racing_claim
    try:
        v = t.append(_df(spark, 1000, 1003))
    finally:
        t._claim = real_claim
    assert v == 3
    ids = {r["id"] for r in t.read(spark).collect()}
    assert {0, 500, 1000} <= ids and len(ids) == 5 + 10 + 3

    # retries exhausted -> CommitConflict surfaces
    t._claim = lambda *a, **k: (_ for _ in ()).throw(
        CommitConflict("always"))
    try:
        with pytest.raises(CommitConflict):
            t.append(_df(spark, 0, 1))
    finally:
        t._claim = real_claim


def test_crashed_write_is_invisible_and_expired(spark, tmp_path):
    """A crash after the data write but before the manifest claim leaves
    an orphan data dir: readers never see it, expire reclaims it."""
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 5))
    orphan = os.path.join(t.data, "v9-crashed")
    _df(spark, 0, 99).write.parquet(orphan)

    assert t.read(spark).count() == 5  # orphan invisible
    stats = t.expire_snapshots(keep=1)
    assert stats["removed_dirs"] == 1
    assert not os.path.exists(orphan)
    assert t.read(spark).count() == 5


def test_compact_is_snapshot_atomic_and_pins_old_readers(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "tbl")
    for lo in range(0, 40, 10):
        t.append(_df(spark, lo, lo + 10).repartition(4))
    head = t.current_version()
    pinned = t.read(spark, head)  # reader pinned pre-compact

    stats = t.compact(spark, target_file_mb=1024)
    assert stats["version"] == head + 1
    files_after = sum(
        1
        for dirpath, _d, files in os.walk(t.data)
        for f in files
        if f.endswith(".parquet")
    )
    # pre-expire both snapshots' files exist; post head is 1 dir
    assert len(t.manifest()["dirs"]) == 1
    assert t.read(spark).count() == 40
    assert pinned.count() == 40  # old snapshot untouched

    t.expire_snapshots(keep=1)
    assert t.read(spark).count() == 40
    remaining = sum(
        1
        for dirpath, _d, files in os.walk(t.data)
        for f in files
        if f.endswith(".parquet")
    )
    assert remaining < files_after  # old dirs reclaimed
    assert t.versions() == [head + 1]


def test_expire_never_drops_head(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 3))
    t.append(_df(spark, 3, 6))
    t.expire_snapshots(keep=1)
    assert t.versions() == [2]
    assert t.read(spark).count() == 6
    with pytest.raises(FileNotFoundError):
        t.manifest(1)


def test_manifest_is_directory_granular(spark, tmp_path):
    """Manifests list data DIRECTORIES, not files — O(appends) metadata,
    reset to one entry by compact (the 100 TB manifest-bloat guard)."""
    t = SnapshotTable(str(tmp_path), "tbl")
    for lo in range(0, 30, 10):
        t.append(_df(spark, lo, lo + 10).repartition(8))
    m = t.manifest()
    assert len(m["dirs"]) == 3  # not 24 files
    raw = json.load(open(os.path.join(t.meta, f"v{m['version']}.json")))
    assert raw == m
    t.compact(spark)
    assert len(t.manifest()["dirs"]) == 1


def test_stream_extract_to_snapshots_exactly_once(spark, tmp_path):
    """Streaming snapshot sink: one snapshot per micro-batch; restart
    with the same checkpoint drains nothing; a REPLAYED batch id (fresh
    checkpoint over the same input re-delivers batch 0) is skipped by
    the max_batch_id guard — rows land exactly once; and new input under
    the original checkpoint commits a new snapshot."""
    from png_from_pdf_extracter_spark.datagen import GenConfig
    from png_from_pdf_extracter_spark.plans import JobParams
    from png_from_pdf_extracter_spark.sources import generate_transcripts
    from png_from_pdf_extracter_spark.streaming import (
        stream_extract_to_snapshots,
    )

    params = JobParams(n_buckets=8, num_partitions=4)
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    generate_transcripts(spark, GenConfig(seed=3, n_convs=20)).write.parquet(
        in_dir
    )
    t = SnapshotTable(str(tmp_path / "wh"), "turns")

    def drain(checkpoint):
        q = stream_extract_to_snapshots(
            spark, in_dir, t, params, checkpoint
        )
        q.awaitTermination(300)
        assert not q.isActive

    drain(ckpt)
    v1 = t.current_version()
    n1 = t.read(spark).count()
    assert v1 == 1 and n1 > 0
    assert t.manifest()["max_batch_id"] == 0

    # restart, same checkpoint, no new input -> offsets say done
    drain(ckpt)
    assert t.current_version() == v1

    # replayed batch id: a fresh checkpoint re-delivers batch 0 over the
    # same input — the sink guard makes it a no-op instead of a dupe
    drain(str(tmp_path / "ckpt2"))
    assert t.current_version() == v1
    assert t.read(spark).count() == n1

    # genuinely new input under the original checkpoint -> batch 1 commits
    generate_transcripts(spark, GenConfig(seed=4, n_convs=10)).write.mode(
        "append"
    ).parquet(in_dir)
    drain(ckpt)
    assert t.current_version() == v1 + 1
    assert t.manifest()["max_batch_id"] == 1
    n2 = t.read(spark).count()
    assert n2 > n1
    # time travel still shows the first batch alone
    assert t.read(spark, v1).count() == n1


def test_incremental_read_changes(spark, tmp_path):
    """CDC-style incremental scan: exactly the rows appended after a
    snapshot, none of the older data — the per-run consumption primitive
    for a 100 TB streaming/backfill consumer."""
    from png_from_pdf_extracter_spark.sources.snapshots import IncrementalScanError

    t = SnapshotTable(str(tmp_path), "inc")
    v1 = t.append(_df(spark, 0, 10))
    v2 = t.append(_df(spark, 10, 15))
    v3 = t.append(_df(spark, 15, 18))

    got = {r["id"] for r in t.read_changes(spark, since=v1).collect()}
    assert got == set(range(10, 18))
    got = {r["id"] for r in t.read_changes(spark, v1, until=v2).collect()}
    assert got == set(range(10, 15))
    # since == head -> empty, schema intact
    empty = t.read_changes(spark, v3)
    assert empty.count() == 0 and empty.columns == ["id", "v"]
    # everything since the beginning
    assert t.read_changes(spark, 0).count() == 18

    # an overwrite in the range invalidates the append diff
    t.overwrite(_df(spark, 100, 102))
    with pytest.raises(IncrementalScanError):
        t.read_changes(spark, v1)
    # ... but a range that starts after the overwrite works again
    v5 = t.append(_df(spark, 200, 203))
    got = {r["id"] for r in t.read_changes(spark, since=4).collect()}
    assert got == {200, 201, 202}


def test_stats_pruning_skips_dirs(spark, tmp_path):
    """Manifest min/max stats: a range predicate plans only the data dirs
    whose range intersects — Iceberg's file skipping. Results must equal
    the unpruned scan + filter (pruning is never a correctness filter)."""
    t = SnapshotTable(str(tmp_path), "pruned", stats_cols=["id"])
    t.append(_df(spark, 0, 100))
    t.append(_df(spark, 100, 200))
    t.append(_df(spark, 200, 300))

    df, kept, total = t.read_pruned(spark, "id", lo=120, hi=180)
    assert (kept, total) == (1, 3)  # only the middle dir survives
    got = {r["id"] for r in df.filter("id between 120 and 180").collect()}
    expect = {
        r["id"]
        for r in t.read(spark).filter("id between 120 and 180").collect()
    }
    assert got == expect and len(got) == 61

    # disjoint range -> zero dirs, empty result, schema intact
    df0, kept0, _ = t.read_pruned(spark, "id", lo=1000, hi=2000)
    assert kept0 == 0 and df0.count() == 0 and df0.columns == ["id", "v"]

    # open-ended ranges
    _, kept_lo, _ = t.read_pruned(spark, "id", lo=250)
    assert kept_lo == 1
    _, kept_hi, _ = t.read_pruned(spark, "id", hi=50)
    assert kept_hi == 1

    # stats survive append carry-forward and are recorded per dir
    m = t.manifest()
    assert len(m["stats"]) == 3
    for d, st in m["stats"].items():
        assert set(st) == {"id"} and st["id"][0] < st["id"][1]


def test_stats_pruning_unstatted_dirs_always_kept(spark, tmp_path):
    """Dirs written without stats (older writer) are never pruned."""
    plain = SnapshotTable(str(tmp_path), "mixed")
    plain.append(_df(spark, 0, 10))
    statted = SnapshotTable(str(tmp_path), "mixed", stats_cols=["id"])
    statted.append(_df(spark, 1000, 1010))
    df, kept, total = statted.read_pruned(spark, "id", lo=5000, hi=6000)
    assert total == 2 and kept == 1  # unstatted v1 dir kept, statted pruned
    assert df.count() == 10


def test_schema_evolution_add_column(spark, tmp_path):
    """Column addition is metadata-only (Iceberg's commonest evolution):
    append a df with a new column, old dirs are never rewritten, reads
    project the union schema with NULLs for pre-evolution rows — and the
    old snapshot still reads with its original schema."""
    t = SnapshotTable(str(tmp_path), "evo")
    v1 = t.append(_df(spark, 0, 5))
    evolved = _df(spark, 5, 8).withColumn("lang", F.lit("en"))
    t.append(evolved)

    head = t.read(spark)
    assert set(head.columns) == {"id", "v", "lang"}
    rows = {r["id"]: r["lang"] for r in head.collect()}
    assert rows[0] is None and rows[6] == "en"
    assert head.count() == 8
    # time travel to the pre-evolution snapshot: original schema
    assert set(t.read(spark, v1).columns) == {"id", "v"}
    # incremental scan across the evolution sees only the new rows+schema
    inc = t.read_changes(spark, since=v1)
    assert inc.count() == 3 and "lang" in inc.columns


def test_row_count_from_manifest_only(spark, tmp_path):
    """count(*) answered from metadata alone (Iceberg snapshot-summary
    total-records): correct across append/overwrite/compact, correct for
    pinned versions, and None — never wrong — when accounting is absent."""
    t = SnapshotTable(str(tmp_path), "tbl")
    v1 = t.append(_df(spark, 0, 100))
    v2 = t.append(_df(spark, 100, 150))
    assert t.row_count() == 150 == t.read(spark).count()
    assert t.row_count(v1) == 100  # time-travel count
    v3 = t.overwrite(_df(spark, 0, 30))
    assert t.row_count() == 30
    t.append(_df(spark, 30, 40))
    t.compact(spark)
    assert t.row_count() == 40 == t.read(spark).count()
    assert t.row_count(v2) == 150  # pinned history still answers

    # a manifest that predates row accounting -> None (fallback to scan)
    m = t.manifest()
    mpath = os.path.join(t.meta, f"v{m['version']}.json")
    del m["rows"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    assert t.row_count() is None


def test_merge_on_read_deletes(spark, tmp_path):
    """Equality-delete lifecycle: delete commits only a key set (data
    dirs untouched), reads suppress matches, time travel still sees
    them, deletes are SCOPED to the dirs present when they committed
    (sequence-number semantics: later appends re-insert freely), compact
    materializes, expiry never sweeps live delete files."""
    t = SnapshotTable(str(tmp_path), "tbl")
    v1 = t.append(_df(spark, 0, 100))
    before_dirs = t.manifest()["dirs"]

    keys = spark.createDataFrame([(i,) for i in range(0, 10)], ["id"])
    t.delete_keys(keys, "id")
    m = t.manifest()
    assert m["dirs"] == before_dirs  # data untouched
    assert len(m["deletes"]) == 1
    assert t.read(spark).count() == 90
    assert t.read(spark).filter(F.col("id") < 10).count() == 0
    assert t.read(spark, v1).count() == 100  # time travel pre-delete
    assert t.row_count() is None  # honest: manifest can't know overlap
    assert t.row_count(v1) == 100

    # append AFTER the delete: scoped applies_to means re-inserted keys
    # are VISIBLE (the delete only suppresses pre-delete dirs)
    t.append(_df(spark, 5, 7).union(_df(spark, 200, 210)))
    assert t.read(spark).count() == 102  # 90 kept + 12 appended
    assert t.read(spark).filter(F.col("id") == 5).count() == 1

    # second delete accumulates (and now covers the re-insert too);
    # a different key column raises
    t.delete_keys(spark.createDataFrame([(205,), (5,)], ["id"]), "id")
    assert t.read(spark).count() == 100
    assert t.read(spark).filter(F.col("id") == 5).count() == 0
    with pytest.raises(ValueError):
        t.delete_keys(spark.createDataFrame([(1,)], ["v"]), "v")

    # pruned reads also apply deletes
    df, _, _ = t.read_pruned(spark, "id", lo=0, hi=300)
    assert df.count() == 100

    # compact materializes: delete files gone, counts are metadata again
    t.compact(spark)
    m = t.manifest()
    assert not m.get("deletes")
    assert t.row_count() == 100 == t.read(spark).count()

    # expiry with a pending delete never sweeps the live delete file
    t.delete_keys(spark.createDataFrame([(200,)], ["id"]), "id")
    n = t.read(spark).count()
    t.expire_snapshots(keep=1)
    assert t.read(spark).count() == n


def test_merge_mor_single_commit_upsert(spark, tmp_path):
    """merge_mor: one atomic commit = new data dir + equality delete
    scoped to pre-merge dirs. Matched keys take the source version,
    unmatched target rows pass through, source-only keys insert; the
    result equals the copy-on-write merge() on a twin table."""
    t = SnapshotTable(str(tmp_path), "mor")
    cow = SnapshotTable(str(tmp_path), "cow")
    base = _df(spark, 0, 50)
    t.append(base)
    cow.append(base)
    head_before = t.current_version()

    # source: update ids 10-19 (v = id*1000), insert 100-104
    src = spark.range(10, 20).select(
        F.col("id"), (F.col("id") * 1000).alias("v")
    ).union(spark.range(100, 105).select(
        F.col("id"), (F.col("id") * 1000).alias("v")
    ))
    t.merge_mor(src, "id")
    cow.merge(spark, src, ["id"])
    assert t.current_version() == head_before + 1  # ONE commit
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    want = {r["id"]: r["v"] for r in cow.read(spark).collect()}
    assert got == want
    assert got[15] == 15000 and got[3] == 6 and got[102] == 102000
    assert len(got) == 55
    # the merge did NOT rewrite the base data dir
    assert t.manifest()["dirs"][0] == t.manifest(head_before)["dirs"][0]
    # chained: a second merge_mor updates rows the first one inserted
    t.merge_mor(spark.createDataFrame([(102, 7)], ["id", "v"]), "id")
    assert {r["v"] for r in
            t.read(spark).filter(F.col("id") == 102).collect()} == {7}


def test_stream_upsert_to_snapshots_cdc(spark, tmp_path):
    """Streaming CDC apply: micro-batches upsert via single-commit
    merge-on-read; a checkpointed re-drain is a no-op; max_batch_id
    survives an interleaved compact (the guard-reset bug this pins)."""
    from png_from_pdf_extracter_spark.streaming import (
        stream_upsert_to_snapshots,
    )

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    t = SnapshotTable(str(tmp_path / "wh"), "cdc")

    def drain():
        q = stream_upsert_to_snapshots(spark, in_dir, t, "id", ckpt)
        q.awaitTermination()

    _df(spark, 0, 50).write.mode("append").parquet(in_dir)
    drain()
    assert t.read(spark).count() == 50

    # maintenance BETWEEN batches must not reset the replay guard
    mbi = t.manifest()["max_batch_id"]
    t.compact(spark)
    assert t.manifest()["max_batch_id"] == mbi

    # batch 2: update 10 keys (v = id * 7), insert 5 new
    upd = spark.range(0, 10).select(
        F.col("id"), (F.col("id") * 7).alias("v")
    ).union(spark.range(500, 505).select(
        F.col("id"), (F.col("id") * 7).alias("v")
    ))
    upd.write.mode("append").parquet(in_dir)
    drain()
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 55
    assert got[3] == 21 and got[20] == 40 and got[502] == 3514

    # re-drain with the same checkpoint and no new input: nothing changes
    head = t.current_version()
    drain()
    assert t.current_version() == head
    assert t.read(spark).count() == 55


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    """Iceberg refs: a tagged snapshot (and its data dirs) survives
    expire_snapshots; reads by tag version reproduce the exact pinned
    corpus; dropping the tag releases it on the next expiry."""
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 10))
    v_run = t.tag("run-42-corpus")
    t.overwrite(_df(spark, 100, 105))
    t.overwrite(_df(spark, 200, 220))
    assert t.tags() == {"run-42-corpus": v_run}

    t.expire_snapshots(keep=1)
    # the tagged snapshot's manifest AND data survived
    assert t.read(spark, t.tag_version("run-42-corpus")).count() == 10
    assert t.read(spark).count() == 20

    t.drop_tag("run-42-corpus")
    t.expire_snapshots(keep=1)
    assert v_run not in t.versions()
    with pytest.raises(FileNotFoundError):
        t.tag("bogus", version=999)


def test_merge_mor_extra_batch_id_is_monotone(spark, tmp_path):
    """The replay guard must never regress: a merge_mor whose caller
    read max_batch_id BEFORE some other commit raised it must keep the
    higher value (the same max() guard _commit applies)."""
    t = SnapshotTable(str(tmp_path), "guard")
    t.append(_df(spark, 0, 10), extra={"max_batch_id": 7})
    assert t.manifest()["max_batch_id"] == 7
    # caller computed its batch id (3) from a stale read; meanwhile the
    # table already carries 7 — the commit must keep 7, not regress to 3
    t.merge_mor(
        spark.createDataFrame([(1, 99)], ["id", "v"]), "id",
        extra={"max_batch_id": 3},
    )
    assert t.manifest()["max_batch_id"] == 7
    # a genuinely newer batch id advances it
    t.merge_mor(
        spark.createDataFrame([(2, 98)], ["id", "v"]), "id",
        extra={"max_batch_id": 11},
    )
    assert t.manifest()["max_batch_id"] == 11


def test_stats_pruning_incomparable_types_keep_dir(spark, tmp_path):
    """Timestamp/decimal stats columns record no range (non-JSON-native)
    and string-vs-number bound mismatches never prune: pruning is an
    optimization, never a correctness filter."""
    ts = SnapshotTable(str(tmp_path), "tstats", stats_cols=["ts", "id"])
    df = spark.range(0, 10).select(
        "id", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts")
    )
    ts.append(df)
    m = ts.manifest()
    (st,) = m["stats"].values()
    assert st["ts"] == [None, None]        # non-native type: no range
    assert st["id"] == [0, 9]
    # pruning on the timestamp column with typed bounds: dir kept, no
    # TypeError
    import datetime as dt
    _, kept, total = ts.read_pruned(
        spark, "ts",
        lo=dt.datetime(2027, 1, 1), hi=dt.datetime(2028, 1, 1),
    )
    assert (kept, total) == (1, 1)
    # string bound against numeric stats: incomparable -> kept
    _, kept2, _ = ts.read_pruned(spark, "id", lo="500")
    assert kept2 == 1
    # numeric bound still prunes
    _, kept3, _ = ts.read_pruned(spark, "id", lo=500)
    assert kept3 == 0


def test_timestamp_as_of_and_history(spark, tmp_path):
    import time as _time

    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 10))
    _time.sleep(0.02)
    mid = _time.time()
    _time.sleep(0.02)
    t.append(_df(spark, 10, 15))

    # TIMESTAMP AS OF between the two commits resolves to v1
    assert t.version_as_of(mid) == 1
    assert t.read_as_of(spark, mid).count() == 10
    assert t.read_as_of(spark, _time.time()).count() == 15
    # before the table existed: error, not an empty table
    with pytest.raises(FileNotFoundError):
        t.version_as_of(mid - 10.0)

    h = {r["version"]: r for r in t.history(spark).collect()}
    assert set(h) == {1, 2}
    assert h[1]["operation"] == "append"
    assert h[2]["rows"] == 15  # append carries forward per-dir rows
    assert h[1]["committed_at"] < mid < h[2]["committed_at"]
    assert h[2]["n_dirs"] == 2


def test_history_covers_mor_and_compaction(spark, tmp_path):
    t = SnapshotTable(str(tmp_path), "tbl")
    t.append(_df(spark, 0, 10))
    t.delete_keys(spark.range(0, 3).select(F.col("id")), "id")
    t.compact(spark)
    h = sorted(t.history(spark).collect(), key=lambda r: r["version"])
    assert [r["version"] for r in h] == [1, 2, 3]
    ops = [r["operation"] for r in h]
    assert ops[0] == "append"
    assert h[1]["n_delete_files"] == 1
    assert h[2]["n_delete_files"] == 0  # compaction materialized deletes
    # history timestamps are monotone
    ts = [r["committed_at"] for r in h]
    assert ts == sorted(ts)
