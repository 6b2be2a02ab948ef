"""Streaming extraction job driver — the literal daemon-loop analog
(``/root/reference/src/services/job_processor.py:223-262`` runs: poll ->
process -> sleep 60s forever). Structured Streaming expresses both modes:

- ``--once`` (default): ``trigger(availableNow=True)`` — one poll cycle
  that drains the backlog and exits; restartable via the checkpoint
  (what the reference achieves by deleting processed messages).
- ``--interval 60``: ``trigger(processingTime='60 seconds')`` — the
  infinite daemon; runs until killed, resumes from the checkpoint.

Deployment (same contract as the batch driver)::

    spark-submit --py-files dist/png_from_pdf_extracter_spark.zip \
        jobs/run_stream.py --input IN --warehouse WH --checkpoint CKPT

Writes ``extracted_turns_stream`` and its ``extract_metrics_stream``
lineage rows, both partitioned by ``batch_id`` so a replayed micro-batch
rewrites its own rows (one lineage row per batch and bucket) — the
streaming twin of ``run_extract.py``'s commit protocol.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts parquet dir")
    p.add_argument("--warehouse", required=True, help="output warehouse dir")
    p.add_argument("--checkpoint", required=True, help="stream checkpoint dir")
    p.add_argument("--n-buckets", type=int, default=4096)
    p.add_argument(
        "--interval", type=int, default=None,
        help="daemon mode: processingTime trigger seconds (runs until "
             "killed); default is one availableNow drain that exits",
    )
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from png_from_pdf_extracter_spark.plans import JobParams
    from png_from_pdf_extracter_spark.sources.catalog import Catalog
    from png_from_pdf_extracter_spark.streaming import stream_extract_to_catalog

    try:
        params = JobParams(n_buckets=args.n_buckets)
    except ValueError as e:
        print(f"invalid job params: {e}", file=sys.stderr)
        return 1

    builder = (
        SparkSession.builder.appName("extract-transcripts-stream")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    try:
        catalog = Catalog(args.warehouse)
        q = stream_extract_to_catalog(
            spark, args.input, catalog, params, args.checkpoint,
            processing_time=(
                f"{args.interval} seconds" if args.interval else None
            ),
        )
        q.awaitTermination()  # daemon mode (--interval) blocks until killed
        rows = (
            catalog.read(spark, "extracted_turns_stream").count()
            if catalog.exists("extracted_turns_stream")
            else 0
        )
        print(f"stream drained rows_total={rows} buckets={args.n_buckets}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
