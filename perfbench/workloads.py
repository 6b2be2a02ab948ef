"""The three workloads, each driven through the package's production entry
points with the parameters the job drivers build from their defaults.

- ``batch_full``: a cold ``run_job`` into an empty warehouse.
- ``batch_resume``: the same call against a warehouse restored (outside the
  timer) to a crashed prior run: all data written, lineage rows for 7/8 of
  the touched buckets.
- ``stream_catchup``: an availableNow drain of a backlog of small poll files
  through ``stream_extract_to_catalog``, into a fresh warehouse and
  checkpoint.

A workload object knows how to reset its state (untimed), make the timed
call, and check what the call committed.
"""

from __future__ import annotations

import importlib.util
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

from . import check
from .hostenv import REPO
from .inputs import (
    FILES_PER_TRIGGER,
    RESUME_PENDING_EVERY,
    WARM_UP_FILES,
    Inputs,
    publish_stream_files,
)

WORKLOADS = ("batch_full", "batch_resume", "stream_catchup")


def _job_module(name: str):
    spec = importlib.util.spec_from_file_location(name, REPO / "jobs" / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def batch_params():
    """``JobParams`` exactly as ``jobs/run_extract.py`` builds them from its
    default flags."""
    from png_from_pdf_extracter_spark.plans import JobParams

    args = _job_module("run_extract").parse_args(["--input", "-", "--warehouse", "-"])
    return JobParams(
        n_buckets=args.n_buckets,
        salt_buckets=args.salt_buckets,
        num_partitions=args.num_partitions,
        salt_mode=args.salt_mode,
        validate_input=args.validate,
        payload_base64=args.payload_base64,
        cc_tables=tuple(args.cc_table),
    )


def stream_params():
    """``JobParams`` exactly as ``jobs/run_stream.py`` builds them."""
    from png_from_pdf_extracter_spark.plans import JobParams

    args = _job_module("run_stream").parse_args(
        ["--input", "-", "--warehouse", "-", "--checkpoint", "-"]
    )
    return JobParams(n_buckets=args.n_buckets)


class BatchWorkload:
    """``run_job`` over the cached transcripts table."""

    reader_batch = True  # run_extract.py sets the parquet reader batch size

    def __init__(self, name: str, inputs: Inputs, run_dir: Path):
        self.name = name
        self.inputs = inputs
        self.params = batch_params()
        self.run_dir = run_dir
        self.warehouse = run_dir / "warehouse"
        self.resume = name == "batch_resume"
        self.before: dict = {}
        self.pending: set = set()

    # -- state -----------------------------------------------------------
    @property
    def unprepared(self) -> bool:
        """True while the resume pre-state is missing from the input cache."""
        return self.resume and not (self.inputs.resume_template / "_COMPLETE").exists()

    def prepare(self, spark) -> None:
        """Build the crashed-run warehouse once per input (resume only)."""
        if not self.resume:
            return
        template = self.inputs.resume_template
        if not (template / "_COMPLETE").exists():
            self._build_template(spark, template)
        self.pending = set(
            int(p) for p in (template / "_COMPLETE").read_text().split()
        )

    def _build_template(self, spark, template: Path) -> None:
        """A full run, then the lineage rows of every 8th touched bucket are
        dropped: the state a run leaves when it crashes between the data
        write and the lineage commit of those buckets."""
        from pyspark.sql import functions as F

        from png_from_pdf_extracter_spark.plans import run_job
        from png_from_pdf_extracter_spark.sources import read_transcripts
        from png_from_pdf_extracter_spark.sources.catalog import Catalog

        tmp = template.with_name(template.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        catalog = Catalog(str(tmp))
        run_job(spark, read_transcripts(spark, str(self.inputs.table)), catalog, self.params)
        metrics = catalog.read(spark, "extract_metrics")
        touched = sorted(r[0] for r in metrics.select("partition_id").collect())
        pending = touched[::RESUME_PENDING_EVERY]
        kept = metrics.filter(~F.col("partition_id").isin(pending))
        kept.write.parquet(catalog.path("extract_metrics.kept"))
        shutil.rmtree(catalog.path("extract_metrics"))
        Path(catalog.path("extract_metrics.kept")).rename(catalog.path("extract_metrics"))
        (tmp / "_COMPLETE").write_text(" ".join(map(str, pending)))
        shutil.rmtree(template, ignore_errors=True)
        tmp.rename(template)

    def reset(self) -> None:
        shutil.rmtree(self.warehouse, ignore_errors=True)
        if self.resume:
            shutil.copytree(self.inputs.resume_template, self.warehouse)
            self.before = {
                t: check.data_files(self.warehouse / t)
                for t in ("extracted_turns", "extract_metrics")
            }

    def warm_up(self, spark) -> None:
        """Two untimed calls over the first ``WARM_UP_FILES`` files of the
        table. A session's first call compiles the job's generated code and
        costs several seconds more at any input size; after one warm-up call
        the next full call still runs 1-3 s slower than the one after it."""
        for _ in range(2):
            self.reset()
            self.call(spark, self.inputs.table_glob(WARM_UP_FILES))

    # -- the timed call --------------------------------------------------
    def call(self, spark, table: str | None = None) -> dict:
        from png_from_pdf_extracter_spark.plans import run_job
        from png_from_pdf_extracter_spark.sources import read_transcripts
        from png_from_pdf_extracter_spark.sources.catalog import Catalog

        t0 = time.perf_counter()
        stats = run_job(
            spark,
            read_transcripts(spark, table or str(self.inputs.table)),
            Catalog(str(self.warehouse)),
            self.params,
        )
        wall = time.perf_counter() - t0
        return {"wall": wall, "rows": stats["rows"], "batch_walls": [wall]}

    # -- checks ----------------------------------------------------------
    def expected_rows(self) -> dict:
        """Oracle turns this call must commit."""
        if not self.resume:
            return self.inputs.expected
        n = self.params.n_buckets
        return {
            k: v
            for k, v in self.inputs.expected.items()
            if check.bucket_of(k[0], n) in self.pending
        }

    def check(self) -> check.Verdict:
        table = self.warehouse / "extracted_turns"
        rows = check.read_table(table, check.TURN_COLUMNS + ["partition_id"])
        v = check.turns(rows, self.inputs.expected)
        if not self.resume:
            metric_rows = check.read_table(
                self.warehouse / "extract_metrics", ["partition_id", "rows"]
            )
            v.add(check.lineage(metric_rows, Counter(r["partition_id"] for r in rows)))
            return v
        # every turn is checked above; the lineage written by this call must
        # cover exactly the pending buckets, and committed ones stay as they were
        new = [
            self.warehouse / "extract_metrics" / f
            for f in check.data_files(self.warehouse / "extract_metrics")
            if f not in self.before["extract_metrics"]
        ]
        metric_rows = check.read_table(
            self.warehouse / "extract_metrics", ["partition_id", "rows"], files=new
        )
        per_bucket = Counter(r["partition_id"] for r in rows)
        pending_rows = Counter({b: n for b, n in per_bucket.items() if b in self.pending})
        v.add(check.lineage(metric_rows, pending_rows))
        after = check.data_files(table)
        for b in per_bucket.keys() - self.pending:
            prefix = f"partition_id={b}/"
            was = {f: s for f, s in self.before["extracted_turns"].items() if f.startswith(prefix)}
            now = {f: s for f, s in after.items() if f.startswith(prefix)}
            if was != now:
                v.fail(per_bucket[b], f"committed bucket {b} was rewritten")
        return v


class StreamWorkload:
    """An availableNow drain through ``stream_extract_to_catalog``."""

    reader_batch = False  # run_stream.py leaves the reader batch size alone
    name = "stream_catchup"

    def __init__(self, name: str, inputs: Inputs, run_dir: Path):
        self.inputs = inputs
        self.params = stream_params()
        self.run_dir = run_dir
        self.watched = run_dir / "watched"
        self.warehouse = run_dir / "warehouse"
        self.checkpoint = run_dir / "checkpoint"

    unprepared = False

    def prepare(self, spark) -> None:
        """Put the session in dynamic partition-overwrite mode before any
        drain starts. ``commit_batch`` sets the mode on the session it was
        given, but micro-batches run in the query's own copy of the session,
        made when the query starts; in a fresh session (a first
        ``jobs/run_stream.py --once``) each batch's overwrite then replaces
        the whole table, and only the last batch's turns survive."""
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def reset(self) -> None:
        for d in (self.warehouse, self.checkpoint):
            shutil.rmtree(d, ignore_errors=True)
        publish_stream_files(self.inputs, self.watched)

    def warm_up(self, spark) -> None:
        """An untimed drain of the first two micro-batches' worth of files,
        into a warehouse and checkpoint of its own."""
        warm = self.run_dir / "warm"
        shutil.rmtree(warm, ignore_errors=True)
        publish_stream_files(self.inputs, warm / "watched", limit=2 * FILES_PER_TRIGGER)
        self._drain(spark, warm / "watched", warm / "warehouse", warm / "checkpoint")
        shutil.rmtree(warm, ignore_errors=True)

    def _drain(self, spark, watched: Path, warehouse: Path, checkpoint: Path):
        from png_from_pdf_extracter_spark.sources.catalog import Catalog
        from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

        q = stream_extract_to_catalog(
            spark, str(watched), Catalog(str(warehouse)), self.params, str(checkpoint)
        )
        q.awaitTermination()
        return q

    def drain_source(self, spark, on_batch) -> None:
        """Drain the backlog the way ``stream_extract`` reads it (schema
        pinned, the default files per trigger), but hand each micro-batch of
        raw rows to ``on_batch``."""
        from png_from_pdf_extracter_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

        src = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER)
            .parquet(str(self.watched))
        )
        q = (
            src.writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", str(self.checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def call(self, spark) -> dict:
        t0 = time.perf_counter()
        q = self._drain(spark, self.watched, self.warehouse, self.checkpoint)
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        committed = check.read_table(self.warehouse / "extracted_turns_stream", ["turn_idx"])
        return {
            "wall": wall,
            "rows": len(committed),
            "batch_walls": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            "progress": progress,
            "run_id": str(q.runId),
        }

    def expected_rows(self) -> dict:
        return self.inputs.expected

    def check(self) -> check.Verdict:
        rows = check.read_table(
            self.warehouse / "extracted_turns_stream",
            check.TURN_COLUMNS + ["partition_id", "batch_id"],
        )
        v = check.turns(rows, self.inputs.expected)
        metric_rows = check.read_table(
            self.warehouse / "extract_metrics_stream", ["batch_id", "partition_id", "rows"]
        )
        written = Counter((r["batch_id"], r["partition_id"]) for r in rows)
        v.add(check.lineage(metric_rows, written, key=("batch_id", "partition_id")))
        return v

    def stream_stats(self, progress: list) -> dict:
        """Per-batch figures from drains' progress events (pooled) and the
        listing of the last drain's output."""
        files = Counter()
        out = self.warehouse / "extracted_turns_stream"
        for f in check.data_files(out):
            files[f.split("/", 1)[0]] += 1
        trig = [p["durationMs"]["triggerExecution"] for p in progress]
        add = [p["durationMs"].get("addBatch", 0) for p in progress]
        return {
            "streaming.batches": len(files),
            "streaming.rows_per_batch": statistics.median(p["numInputRows"] for p in progress),
            "streaming.files_per_batch": statistics.median(files.values()) if files else 0,
            "streaming.add_batch_p50_ms": statistics.median(add),
            "streaming.overhead_p50_ms": statistics.median(t - a for t, a in zip(trig, add)),
        }


def make(name: str, inputs: Inputs, run_dir: Path):
    if name == "stream_catchup":
        return StreamWorkload(name, inputs, run_dir)
    return BatchWorkload(name, inputs, run_dir)
