"""Batch extraction job driver — the ``main()`` analog
(``/root/reference/src/main.py:17-106``): validate params, build session,
run the extraction plan with lineage + resume, exit non-zero on failure.

Deployment (the north rule's spark-submit contract)::

    python scripts/package_pyfiles.py dist/png_from_pdf_extracter_spark.zip
    spark-submit --py-files dist/png_from_pdf_extracter_spark.zip \
        jobs/run_extract.py \
        --input /path/to/transcripts_parquet \
        --warehouse /path/to/warehouse \
        [--n-buckets 4096] [--salt-buckets 8] [--num-partitions N] [--no-resume]

On a real cluster add ``--master yarn``/``--master k8s://...`` and executor
sizing; the job code is identical — everything cluster-specific lives in
spark-submit flags, the way the reference keeps all deployment knobs in env
vars (``config.py:119-166``).
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcripts table path")
    p.add_argument(
        "--format", choices=["parquet", "orc", "json", "csv"], default="parquet",
        help="input format (schema enforced, never inferred)",
    )
    p.add_argument("--warehouse", required=True, help="output warehouse dir")
    p.add_argument("--n-buckets", type=int, default=4096)
    p.add_argument("--salt-buckets", type=int, default=8)
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument(
        "--salt-mode", choices=["always", "auto", "never"], default="always",
        help="skew shuffle policy: always salt, sample-and-decide, or trust source splits",
    )
    p.add_argument(
        "--validate", action="store_true",
        help="CHECK-validate input rows first; rejects -> input_rejects "
             "table (costs one extra input scan)",
    )
    p.add_argument(
        "--payload-base64", action="store_true",
        help="input text column is base64-encoded; decode before extraction "
             "(transfer-encoding analog, ref job_processor.py:207)",
    )
    p.add_argument(
        "--cc-table", action="append", default=[],
        help="extra sink table receiving a copy of this run's extracted "
             "rows (repeatable; CC fan-out analog, ref smtp_service.py:120)",
    )
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    # import AFTER arg parsing so --help works without the zip on sys.path
    from pyspark.sql import SparkSession

    from png_from_pdf_extracter_spark.plans import JobParams, run_job
    from png_from_pdf_extracter_spark.sources import read_transcripts
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    try:
        params = JobParams(
            n_buckets=args.n_buckets,
            salt_buckets=args.salt_buckets,
            num_partitions=args.num_partitions,
            salt_mode=args.salt_mode,
            validate_input=args.validate,
            payload_base64=args.payload_base64,
            cc_tables=tuple(args.cc_table),
        )
    except ValueError as e:  # config validation, ref config.py:54-112
        print(f"invalid job params: {e}", file=sys.stderr)
        return 1

    builder = (
        SparkSession.builder.appName("extract-transcripts")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
    )
    if args.master:
        builder = builder.master(args.master)
    spark = builder.getOrCreate()
    try:
        transcripts = read_transcripts(spark, args.input, args.format)
        catalog = Catalog(args.warehouse)
        stats = run_job(
            spark, transcripts, catalog, params, resume=not args.no_resume
        )
        print(f"extracted rows={stats['rows']} buckets={stats['n_buckets']}")
        # the run record: row count and the wall seconds of each action
        print(json.dumps(stats, sort_keys=True))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
