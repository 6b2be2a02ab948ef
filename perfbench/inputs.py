"""Seeded, cached benchmark inputs and the oracle they are checked against.

Inputs are a pure function of ``(seed, turns)``: conversations come from the
package's generator (``conv_rows`` at ``payload_scale=8``, the FIXTURES class
mix) and are written once as parquet under the work directory. The package
only ever sees that parquet. Each cache entry is published by renaming a
finished temp directory, so a run that dies half way leaves no entry behind.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

from .hostenv import WORK

PAYLOAD_SCALE = 8
WHITELIST = ("user", "assistant", "tool")
# availableNow drains 8 files per micro-batch by default
FILES_PER_TRIGGER = 8
# the batch table is written as this many files, so its scan runs as that
# many tasks rather than one
TABLE_FILES = 8
# the batch warm-up call reads this many of them
WARM_UP_FILES = 1
# share of touched buckets whose lineage row the crashed prior run lost
RESUME_PENDING_EVERY = 8


@dataclass
class Inputs:
    root: Path
    rows: list  # every generated transcript row
    expected: dict  # (conv_id, turn_idx) -> (status, error_class, text, spans)

    @property
    def table(self) -> Path:
        return self.root / "transcripts"

    def table_glob(self, n_files: int) -> str:
        """A path that reads only the first ``n_files`` files of the table."""
        return str(self.table / f"part-0000[0-{n_files - 1}].parquet")

    @property
    def stream_files(self) -> Path:
        return self.root / "stream_files"

    @property
    def resume_template(self) -> Path:
        return self.root / "resume_warehouse"


def _arrow_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            ("role", pa.string()),
            ("text", pa.string()),
            ("tool", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )


def generate_rows(seed: int, turns: int) -> list:
    """Whole conversations from the package generator until ``turns`` rows
    exist (the last conversation is kept whole)."""
    from png_from_pdf_extracter_spark.datagen.transcripts import GenConfig, conv_rows

    gcfg = GenConfig(seed=seed, n_convs=1 << 30, payload_scale=PAYLOAD_SCALE)
    rows, i = [], 0
    while len(rows) < turns:
        rows.extend(conv_rows(i, gcfg))
        i += 1
    return rows


def oracle(rows: list) -> dict:
    from png_from_pdf_extracter_spark.datagen.transcripts import (
        SYNTH_EXTRACTOR_CFG,
        expected_for_rows,
    )

    return {
        (e["conv_id"], e["turn_idx"]): (
            e["status"],
            e["error_class"],
            e["extracted_text"],
            tuple((s["start"], s["end"], s["kind"]) for s in e["spans"]),
        )
        for e in expected_for_rows(rows, SYNTH_EXTRACTOR_CFG)
    }


def _write_split(table, directory: Path, n_files: int, stem: str) -> None:
    import pyarrow.parquet as pq

    directory.mkdir(parents=True)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), directory / f"{stem}-{k:05d}.parquet")


def load(seed: int, turns: int, stream_files: int) -> Inputs:
    """The cached inputs for ``(seed, turns)``, generating them on a miss.
    Rows are regenerated in memory on every call (the oracle needs them and
    generation is a pure function of the key); only the parquet is cached.
    The batch table is split into ``TABLE_FILES`` files; the stream backlog
    into ``stream_files`` poll files in conversation order."""
    import pyarrow as pa

    key = f"s{seed}-t{turns}-f{stream_files}"
    root = WORK / "inputs" / key
    rows = generate_rows(seed, turns)
    if not (root / "meta.json").exists():
        tmp = WORK / "inputs" / f".{key}.{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        table = pa.Table.from_pylist(rows, schema=_arrow_schema())
        _write_split(table, tmp / "transcripts", TABLE_FILES, "part")
        _write_split(table, tmp / "stream_files", stream_files, "poll")
        (tmp / "meta.json").write_text(json.dumps({"rows": len(rows)}))
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    return Inputs(root, rows, oracle(rows))


def publish_stream_files(inputs: Inputs, watched: Path, limit: int | None = None) -> int:
    """Publish the first ``limit`` poll files (all by default) into an empty
    watched directory the way a producer would: write each under a temp name
    outside it, then rename it in, so the stream never lists a half-written
    file."""
    shutil.rmtree(watched, ignore_errors=True)
    watched.mkdir(parents=True)
    staging = WORK / "tmp" / "publish"
    staging.mkdir(parents=True, exist_ok=True)
    names = sorted(os.listdir(inputs.stream_files))[:limit]
    for name in names:
        tmp = staging / name
        shutil.copyfile(inputs.stream_files / name, tmp)
        os.rename(tmp, watched / name)
    return len(names)


def payload_class(text: str | None, max_bytes: int, max_units: int) -> str:
    """The FIXTURES payload class of a generated ``text``, read back from the
    shapes the generator emits for each class."""
    if text is None or not text.strip():
        return "empty"
    if text.startswith("<!doctype html"):
        return "html_boilerplate"
    if text.startswith("<p>"):
        return "html_fragment"
    if text.startswith('{"tool"'):
        return "mixed_tool_output"
    if text == "%PDF-1.4\ntrailer << /Root 1 0 R >>\n%%EOF":
        return "zero_pages"
    if text.startswith("%PDF-1.4 "):
        return "corrupted"
    if text.startswith("%PDF-1.4\ntrailer << /Encrypt"):
        return "protected"
    if text.startswith("%PDF-1.4\n"):
        pages = text.count(" 0 obj << /Type /Page >>")
        return "timeout" if pages > max_units else "pdf_textlayer"
    if len(text.encode()) > max_bytes:
        return "oversized"
    return "plain"


PAYLOAD_CLASSES = (
    "plain",
    "html_boilerplate",
    "html_fragment",
    "pdf_textlayer",
    "mixed_tool_output",
    "empty",
    "corrupted",
    "protected",
    "zero_pages",
    "oversized",
    "timeout",
)
