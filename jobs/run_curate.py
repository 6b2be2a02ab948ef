"""Corpus-curation job: documents parquet in, curated corpus + funnel out.

The deployable form of the curation pipeline (``functions/curate.py``):
fingerprint dedup -> language gate -> quality gate -> token-budget gate,
optionally followed by a MinHash near-dup pass
(``dedup.minhash_incremental_dedup``'s batch-internal sibling:
``minhash_lsh_pairs`` + ``apply_dedup``). Writes two warehouse tables —
``curated_docs`` (survivors with evidence columns) and
``curation_funnel`` (per-stage drop report) — and prints one summary line.

    spark-submit --py-files dist/png_from_pdf_extracter_spark.zip \
        jobs/run_curate.py --input /path/docs.parquet \
        --warehouse /path/to/warehouse [--langs en,de] \
        [--min-quality 0.3] [--min-tokens 10] [--max-tokens 100000] \
        [--near-dup] [--blocklist term1,term2]
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="documents parquet path")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--langs", default="en", help="comma-separated keep list")
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--min-tokens", type=int, default=10)
    p.add_argument("--max-tokens", type=int, default=100_000)
    p.add_argument(
        "--near-dup", action="store_true",
        help="additionally remove MinHash near-duplicates (keep-min-id)",
    )
    p.add_argument(
        "--blocklist", default="",
        help="comma-separated terms; docs containing ANY are dropped "
        "(one Aho-Corasick pass for the whole dictionary)",
    )
    p.add_argument("--master", default=None, help="override (tests only)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    langs = tuple(s for s in args.langs.split(",") if s)
    if not langs or args.min_tokens < 0 or args.max_tokens < args.min_tokens:
        print(
            f"invalid job params: langs={args.langs!r} "
            f"min_tokens={args.min_tokens} max_tokens={args.max_tokens}",
            file=sys.stderr,
        )
        return 1

    from pyspark.sql import SparkSession

    from png_from_pdf_extracter_spark.functions import curate, dedup
    from png_from_pdf_extracter_spark.sources.catalog import Catalog

    builder = SparkSession.builder.appName("curate")
    if args.master:
        builder = builder.master(args.master)
    owns_session = SparkSession.getActiveSession() is None
    spark = builder.getOrCreate()
    try:
        docs = spark.read.parquet(args.input)
        kw = dict(
            langs=langs,
            min_quality=args.min_quality,
            min_tokens=args.min_tokens,
            max_tokens=args.max_tokens,
        )
        kept = curate.curate_corpus(docs, **kw)
        blocked = 0
        terms = tuple(s for s in args.blocklist.split(",") if s)
        if terms:
            from png_from_pdf_extracter_spark.functions.keywords import (
                keyword_hits,
            )

            hits = keyword_hits(kept, "doc_id", "text", terms).select(
                "doc_id"
            ).distinct()
            before = kept.count()
            kept = kept.join(hits, "doc_id", "left_anti")
            blocked = before - kept.count()
        near_dups_removed = 0
        if args.near_dup:
            pairs = dedup.minhash_lsh_pairs(kept, "doc_id", "text")
            before = kept.count()
            kept = dedup.apply_dedup(kept, pairs)
            near_dups_removed = before - kept.count()

        catalog = Catalog(args.warehouse)
        # funnel first (report), survivors second: a crash between the
        # writes leaves a report without a corpus — re-run overwrites both
        funnel = curate.curation_funnel(docs, **kw)
        catalog.overwrite(funnel, "curation_funnel")
        catalog.overwrite(kept, "curated_docs")

        n_in = docs.count()
        # same-session re-runs overwrite a path Spark has already listed —
        # drop the cached file index before the read-back count
        spark.catalog.refreshByPath(catalog.path("curated_docs"))
        n_kept = catalog.read(spark, "curated_docs").count()
        print(
            f"curated kept={n_kept} of={n_in} "
            f"near_dups_removed={near_dups_removed} blocked={blocked} "
            f"langs={','.join(langs)}"
        )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
