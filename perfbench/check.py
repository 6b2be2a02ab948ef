"""Output checks: every committed turn against the oracle, and the lineage
rows against the turns they describe.

Each check returns a :class:`Verdict`: how many turns it checked, how many
failed, and a short reason per failed group. A turn fails if it is missing,
duplicated, or differs from the oracle in ``status``, ``error_class``,
``extracted_text`` or spans. A lineage fault fails every turn of its bucket.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

TURN_COLUMNS = ["conv_id", "turn_idx", "status", "error_class", "extracted_text", "spans"]


@dataclass
class Verdict:
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def add(self, other: "Verdict") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems.extend(other.problems)

    def fail(self, turns: int, why: str) -> None:
        self.failed += turns
        if len(self.problems) < 20:
            self.problems.append(why)


def read_table(path: Path, columns=None, files=None) -> list:
    """Rows of a hive-partitioned parquet table as dicts (``files`` limits
    the read to those data files)."""
    import pyarrow.dataset as ds

    if files is not None:
        if not files:
            return []
        data = ds.dataset([str(f) for f in files], format="parquet", partitioning=ds.partitioning(flavor="hive"), partition_base_dir=str(path))
    else:
        if not path.exists():
            return []
        data = ds.dataset(str(path), format="parquet", partitioning="hive")
    return data.to_table(columns=columns).to_pylist()


def data_files(path: Path) -> dict:
    """``{relative path: (size, mtime_ns)}`` of every data file of a table."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                full = Path(dirpath) / f
                st = full.stat()
                out[str(full.relative_to(path))] = (st.st_size, st.st_mtime_ns)
    return out


def bucket_of(conv_id: str, n_buckets: int) -> int:
    from png_from_pdf_extracter_spark.sources.transcripts import partition_bucket_py

    return partition_bucket_py(conv_id, n_buckets)


def turns(rows: list, expected: dict) -> Verdict:
    """Compare written turns against the expected ones, one by one."""
    v = Verdict(attempted=len(expected))
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    missing = 0
    for key, want in expected.items():
        got = by_key.get(key)
        if got is None:
            missing += 1
        elif len(got) > 1:
            v.fail(1, f"turn {key} written {len(got)} times")
        elif (
            got[0]["status"],
            got[0]["error_class"],
            got[0]["extracted_text"],
            tuple((s["start"], s["end"], s["kind"]) for s in got[0]["spans"] or ()),
        ) != want:
            v.fail(1, f"turn {key} differs from the oracle")
    if missing:
        v.fail(missing, f"{missing} turns missing")
    extra = [k for k in by_key if k not in expected]
    if extra:
        v.fail(len(extra), f"{len(extra)} unexpected turns, e.g. {extra[0]}")
    v.failed = min(v.failed, v.attempted)
    return v


def lineage(metric_rows: list, written_per_bucket: Counter, key=("partition_id",)) -> Verdict:
    """One lineage row per touched bucket, each counting that bucket's
    written turns. ``key`` names the columns that identify a bucket (the
    stream adds ``batch_id``)."""
    v = Verdict()
    per_key = Counter()
    rows_of = {}
    for m in metric_rows:
        k = tuple(m[c] for c in key) if len(key) > 1 else m[key[0]]
        per_key[k] += 1
        rows_of[k] = m["rows"]
    for k, n in written_per_bucket.items():
        if per_key[k] != 1:
            v.fail(n, f"bucket {k} has {per_key[k]} lineage rows")
        elif rows_of[k] != n:
            v.fail(n, f"bucket {k} lineage counts {rows_of[k]} rows, {n} written")
    for k in per_key:
        if k not in written_per_bucket:
            v.fail(0, f"lineage row for untouched bucket {k}")
    if sum(rows_of.values()) != sum(written_per_bucket.values()):
        v.fail(0, "lineage row counts do not sum to the turns written")
    return v
