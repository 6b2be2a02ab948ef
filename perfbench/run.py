"""Benchmark of the production extraction job, end to end and per layer.

    python3 perfbench/run.py --workload batch_full --seed 1 --seconds 12 --trace 0

Run from the repository root. The seed fixes the generated inputs; the
package only ever receives the generated parquet. With ``--trace 0`` the run
measures the workload through the production entry points and prints the
end-to-end metrics: each timed call is the first call of a fresh session, as
in one spark-submit of a job driver. With ``--trace 1`` it prints the
per-layer metrics of a separate traced run, made in one warmed-up session
and compared with untraced calls in that same session. Every committed turn
is checked against the oracle on both. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
host facts and details. ``--smoke`` runs the same code at a tiny size.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import hostenv  # noqa: E402

# (turns, stream poll files) per size. At full size a batch run_job touches
# about 80 of the 4096 buckets and writes about 4 files to each; the stream
# backlog drains in 20 micro-batches of 8 poll files (the default
# maxFilesPerTrigger).
SIZES = {"full": (1000, 160), "smoke": (40, 16)}
# fewest sessions an untraced run builds; setup_s is their median
SETUPS = {"full": 2, "smoke": 1}
# Typical seconds of one timed call, made first thing in a fresh session, on
# a 4-core host. A run makes seconds / this many calls (at least one): a
# fixed count for a given --seconds, so the work measured does not follow
# the host's load.
NOMINAL_CALL_S = {"batch_full": 12.0, "batch_resume": 12.0, "stream_catchup": 24.0}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the measured loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, one setup")
    return p.parse_args(argv)


def _run_once(wl, spark, verdicts: list) -> dict | None:
    """Reset (untimed), the timed call, then the output check. A call that
    raises fails every turn it should have committed."""
    from perfbench.check import Verdict

    wl.reset()
    try:
        result = wl.call(spark)
    except Exception as e:  # a failed run is a measured outcome, not a crash
        n = len(wl.inputs.expected)
        verdicts.append(Verdict(n, n, [f"{type(e).__name__}: {str(e)[:200]}"]))
        return None
    verdicts.append(wl.check())
    return result


def measure(wl, seconds: float, size: str) -> tuple:
    """Untraced: fresh sessions, each timed through its set-up, and the
    timed calls, each the first call of its own session, as in a
    spark-submit of the job drivers in ``jobs/``, which make one call per
    process. Returns ``(metrics, verdicts, details)``."""
    calls = max(1, round(seconds / NOMINAL_CALL_S[wl.name]))
    sessions = max(calls, SETUPS[size])
    if wl.unprepared:
        # the one-off resume pre-state gets a session of its own, so that
        # no measured call runs in a session that has done work before
        spark, _ = hostenv.set_up(f"perfbench-{wl.name}-prepare", hostenv.nproc(), wl.reader_batch)
        wl.prepare(spark)
        spark.stop()
        hostenv.shutdown_jvm()
    setups, results, verdicts, peaks, parts = [], [], [], [], []
    details: dict = {}
    for k in range(sessions):
        spark, s = hostenv.set_up(f"perfbench-{wl.name}", hostenv.nproc(), wl.reader_batch)
        setups.append(s)
        details.setdefault("host", hostenv.host_facts(spark))
        wl.prepare(spark)
        if k >= sessions - calls:
            with hostenv.RssSampler() as rss:
                r = _run_once(wl, spark, verdicts)
            if r is not None:
                results.append(r)
                peaks.append(rss.peak_bytes)
                parts.append(rss.at_peak)
        spark.stop()
        hostenv.shutdown_jvm()
    if not results:
        raise RuntimeError("every measured call raised: " + "; ".join(verdicts[-1].problems))
    walls = [r["wall"] for r in results]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "job_wall_s": (statistics.median(walls), "s"),
        "turns_per_s": (statistics.median(r["rows"] / r["wall"] for r in results), "1/s"),
        "batch_wall_p50_s": (
            statistics.median(w for r in results for w in r["batch_walls"]),
            "s",
        ),
        "peak_rss_mb": (statistics.median(peaks) / (1 << 20), "MB"),
    }
    details.update(
        calls=len(results),
        setups_s=setups,
        job_walls_s=walls,
        peak_rss_mb=[p / (1 << 20) for p in peaks],
        # (JVM MB, Python workers MB, Python processes) at each peak
        peak_rss_parts=[(j / (1 << 20), p / (1 << 20), n) for j, p, n in parts],
        turns_committed=[r["rows"] for r in results],
    )
    return metrics, verdicts, details


def _texts_by_class(wl) -> dict:
    from perfbench.inputs import PAYLOAD_CLASSES, WHITELIST, payload_class

    cfg = wl.params.extractor
    keys = set(wl.expected_rows())
    out = {c: [] for c in PAYLOAD_CLASSES}
    for r in wl.inputs.rows:
        if r["role"] in WHITELIST and (r["conv_id"], r["turn_idx"]) in keys:
            out[payload_class(r["text"], cfg.max_bytes, cfg.max_units)].append(r["text"])
    return out


def _listing(path: Path, buckets=None) -> tuple:
    """(files, bytes) of a table's data files, optionally in ``buckets`` only."""
    from perfbench.check import data_files

    files = data_files(path)
    if buckets is not None:
        files = {
            f: s for f, s in files.items() if int(f.split("/", 1)[0].split("=")[1]) in buckets
        }
    return len(files), sum(s[0] for s in files.values())


# layer stages in report order; a stage a workload's path does not run is 0
STAGES = (
    "sources.scan",
    "operators.resume",
    "operators.salt",
    "operators.quarantine",
    "plans.arrow",
    "plans.udf",
    "plans.write",
    "plans.readback",
    "plans.lineage",
    "streaming.overhead",
)
_STREAM_STATS = (
    "streaming.batches streaming.rows_per_batch streaming.files_per_batch "
    "streaming.add_batch_p50_ms streaming.overhead_p50_ms"
).split()


def _stream_layers(spark, tracer, wl, verdicts: list) -> tuple:
    """A drain of the backlog with every micro-batch rebuilt layer by layer;
    its output is checked like a real drain's."""
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    from perfbench.layers import Decomposition

    wl.reset()
    catalog = Catalog(str(wl.warehouse))
    d = Decomposition(spark, tracer, wl.params, salted=False)

    def on_batch(batch_df, batch_id):
        with tracer.span("streaming.batch"):
            d.micro_batch(batch_df, batch_id, catalog)

    with tracer.span("job.traced"):
        wl.drain_source(spark, on_batch)
    verdicts.append(wl.check())
    # the stream writes no extract_errors table
    return d, d.self_seconds(), {"operators.quarantine_rows": 0}


def _stream_figures(wl, refs: list) -> dict:
    """Figures of the reference drains: per-batch medians over the progress
    events of all of them, the streaming layer's own seconds (what a drain's
    triggers spend outside addBatch, averaged over the drains), and the
    output of the last one."""
    from perfbench.check import read_table

    progress = [p for r in refs for p in r["progress"]]
    m = wl.stream_stats(progress)
    outside = sum(
        p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0) for p in progress
    )
    m["streaming.overhead_s"] = outside / 1e3 / len(refs)
    m["plans.write_files"], m["plans.write_bytes"] = _listing(wl.warehouse / "extracted_turns_stream")
    m["plans.lineage_rows"] = len(read_table(wl.warehouse / "extract_metrics_stream", ["rows"]))
    return m


def _batch_layers(spark, tracer, wl, verdicts: list) -> tuple:
    """The job rebuilt layer by layer against the workload's pre-run state;
    its output is checked like a real call's."""
    from png_from_pdf_extracter_spark.sources import read_transcripts
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    from perfbench.check import read_table
    from perfbench.layers import Decomposition

    wl.reset()
    catalog = Catalog(str(wl.warehouse))
    metrics = catalog.read(spark, "extract_metrics") if catalog.exists("extract_metrics") else None
    d = Decomposition(spark, tracer, wl.params, salted=True)
    src = read_transcripts(spark, str(wl.inputs.table))
    with tracer.span("job.traced"):
        d.extraction(src, metrics)
        d.commit(src, catalog, metrics)
    verdicts.append(wl.check())
    m: dict = dict.fromkeys(_STREAM_STATS, 0)
    buckets = wl.pending if wl.resume else None
    m["plans.write_files"], m["plans.write_bytes"] = _listing(wl.warehouse / "extracted_turns", buckets)
    errors = read_table(wl.warehouse / "extract_errors", ["partition_id"])
    m["operators.quarantine_rows"] = sum(
        1 for e in errors if buckets is None or e["partition_id"] in buckets
    )
    m["plans.lineage_rows"] = d.lineage_rows
    return d, d.self_seconds(), m


def _event_log_metrics(log, ref_groups: set, n_refs: int) -> dict:
    def ref(metric: str) -> float:  # per reference call
        return log.total(metric, ref_groups) / n_refs

    return {
        # the scan's own count and size of the files it read: the tasks'
        # input.bytesRead misses most of the parquet reads here
        "sources.bytes_read": log.scanned["bytes"].get("sources.scan", 0),
        "sources.files_read": log.scanned["files"].get("sources.scan", 0),
        "operators.shuffle_bytes": log.total(
            "internal.metrics.shuffle.write.bytesWritten", {"operators.salt"}
        ),
        "operators.task_skew": log.skew("plans.udf", "data sent to Python workers"),
        "plans.python_bytes_sent": log.total("data sent to Python workers", {"plans.udf"}),
        "plans.python_bytes_received": log.total(
            "data returned from Python workers", {"plans.udf"}
        ),
        "runtime.gc_s": ref("internal.metrics.jvmGCTime") / 1e3,
        "runtime.spill_bytes": ref("internal.metrics.memoryBytesSpilled")
        + ref("internal.metrics.diskBytesSpilled"),
        "runtime.tasks_failed": log.failed_tasks({g for g, *_ in log.tasks}),
    }


def traced(wl, seed: int) -> tuple:
    """One traced run: a warm-up, untraced reference calls, the layer
    decomposition, the kernel alone, Spark's event log, and (batch_full
    only) the same call at ``local[1]`` for the scaling efficiency."""
    from perfbench.layers import kernel
    from perfbench.trace import EventLog, Tracer, span_cost_s

    events = wl.run_dir / "events"
    cores = hostenv.nproc()
    spark, _ = hostenv.set_up(f"perfbench-{wl.name}-traced", cores, wl.reader_batch, events)
    details = {"host": hostenv.host_facts(spark)}
    wl.prepare(spark)
    tracer = Tracer(wl.name, spark)
    with tracer.span("warm_up"):
        wl.warm_up(spark)
    verdicts: list = []

    # Untraced reference calls, one before and one after the decomposition
    # (calls still speed up as the JIT warms), give the job wall that the
    # layer self times are compared with.
    refs = []

    def reference() -> None:
        with tracer.span("ref"):
            r = _run_once(wl, spark, verdicts)
        if r is None:
            raise RuntimeError("reference call raised: " + "; ".join(verdicts[-1].problems))
        refs.append(r)

    reference()
    if wl.name == "stream_catchup":
        d, found, m = _stream_layers(spark, tracer, wl, verdicts)
    else:
        d, found, m = _batch_layers(spark, tracer, wl, verdicts)
    reference()
    ref_walls = [r["wall"] for r in refs]
    ref_wall = statistics.median(ref_walls)
    if wl.name == "stream_catchup":
        m.update(_stream_figures(wl, refs))
        found["streaming.overhead"] = m.pop("streaming.overhead_s")
    stages = {s: found.get(s, 0.0) for s in STAGES}
    m.update({f"{s}_s": v for s, v in stages.items() if s != "streaming.overhead"})
    # rows that reach the UDF (after the resume anti-join) per row scanned
    m["operators.pending_share"] = d.rows["plans.arrow"] / d.rows["sources.scan"]
    m.update(kernel(_texts_by_class(wl), wl.params.extractor))

    spark.stop()
    hostenv.shutdown_jvm()
    # a stream's micro-batch jobs run in a job group named after the query's run id
    ref_groups = {"ref"} | {r["run_id"] for r in refs if "run_id" in r}
    m.update(_event_log_metrics(EventLog.find(events), ref_groups, len(refs)))

    for layer in ("sources", "operators", "plans", "streaming"):
        m[f"self_s.{layer}"] = sum(v for n, v in stages.items() if n.startswith(layer + "."))
    self_sum = sum(stages.values())
    m["trace.self_sum_s"] = self_sum
    m["trace.job_wall_untraced_s"] = ref_wall
    m["trace.overhead_share"] = self_sum / ref_wall - 1
    m["trace.span_cost_us"] = span_cost_s() * 1e6

    # batch_full again at local[1], warm, for the 1 -> nproc scaling
    # efficiency; the other workloads report 0 (not measured)
    r1 = None
    m["scaling.efficiency_1_to_nproc"] = 0.0
    if wl.name == "batch_full":
        spark1, _ = hostenv.set_up(f"perfbench-{wl.name}-1core", 1, wl.reader_batch)
        wl.warm_up(spark1)
        r1 = _run_once(wl, spark1, verdicts)
        spark1.stop()
        hostenv.shutdown_jvm()
        if r1:
            m["scaling.efficiency_1_to_nproc"] = r1["wall"] / (cores * ref_wall)

    trace_file = hostenv.WORK / "traces" / f"{wl.name}-seed{seed}.json"
    tracer.write(trace_file, {"layer_self_s": stages, "span_self_s": tracer.self_seconds()})
    details.update(
        dominant_layer=max(stages, key=stages.get),
        layer_self_s=stages,
        reference_walls_s=ref_walls,
        local1_wall_s=r1["wall"] if r1 else None,
        trace_file=str(trace_file.relative_to(hostenv.REPO)),
    )
    return {n: (v, _unit(n)) for n, v in m.items()}, verdicts, details


def _unit(name: str) -> str:
    """Units of the per-layer metrics, read off their names."""
    if name.endswith("turns_per_s"):
        return "1/s"
    if name.endswith("_s") or name.startswith(("extractor.busy_s.", "self_s.")):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_us"):
        return "us"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("share", "skew", "efficiency_1_to_nproc")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    if not (hostenv.REPO / "png_from_pdf_extracter_spark" / "__init__.py").is_file():
        print("perfbench: the png_from_pdf_extracter_spark package is missing", file=sys.stderr)
        return 2
    hostenv.prepare_env()

    from perfbench import inputs as inputs_mod
    from perfbench import workloads
    from perfbench.check import bucket_of

    size = "smoke" if args.smoke else "full"
    turns, stream_files = SIZES[size]
    bandwidth = hostenv.memory_bandwidth_gbs()
    inp = inputs_mod.load(args.seed, turns, stream_files)
    run_dir = hostenv.WORK / "run" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    wl = workloads.make(args.workload, inp, run_dir)
    try:
        if args.trace:
            metrics, verdicts, details = traced(wl, args.seed)
        else:
            metrics, verdicts, details = measure(wl, args.seconds, size)
    finally:
        hostenv.shutdown_jvm()  # a no-op unless a failure left a JVM running
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(v.attempted for v in verdicts)
    failed = sum(v.failed for v in verdicts)
    problems = [p for v in verdicts for p in v.problems]
    buckets = Counter(bucket_of(k[0], wl.params.n_buckets) for k in inp.expected)
    details.update(
        workload=args.workload,
        seed=args.seed,
        size=size,
        memory_bandwidth_gbs=bandwidth,
        turns_generated=len(inp.rows),
        turns_whitelisted=len(inp.expected),
        rows_per_bucket=len(inp.expected) / len(buckets),
        buckets_touched=len(buckets),
        failed_share=failed / attempted if attempted else 1.0,
        problems=problems[:10],
    )
    print(json.dumps({"detail": details}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not problems,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
