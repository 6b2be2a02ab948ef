"""Per-layer attribution for the traced run.

Spark plans are lazy, so a layer's public function costs nothing until an
action runs. The job is therefore rebuilt from its public pieces as a chain
of growing prefixes, each run to Spark's ``noop`` sink inside its own span:

    scan       read_transcripts + role filter + with_partition_id
    resume     + completed_partitions / pending_only   (resume only)
    salt       + salted_repartition                     (batch only)
    arrow      + an identity mapInPandas
    udf        extract_turns (the same plan with the extract UDF)
    write      _final_turn_columns + the partitioned extracted_turns write

A layer's self time is its prefix minus the one before it. Each prefix
counts the rows it emits, so the share of scanned rows that reach the UDF
is measured, not assumed.

After the write, the batch job's own post-write steps run as they do in
``run_job``: the quarantine write and the lineage collect + append, each of
which scans the read-back once (timed on its own as ``readback``). The
stream runs the same prefixes on every micro-batch inside a
``foreachBatch`` of its own, followed by the two steps of the package's
``commit_batch``: the persisted write and the lineage append. Span times
add up over the batches, so self times are totals over the drain.
"""

from __future__ import annotations

import dataclasses
import datetime as _dt
import itertools
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

# prefix -> the span (and layer stage) it is timed as
STAGE = {
    "scan": "sources.scan",
    "resume": "operators.resume",
    "salt": "operators.salt",
    "arrow": "plans.arrow",
    "udf": "plans.udf",
}


def identity(batches):
    """Arrow round trip with no work: the cost of crossing into Python."""
    yield from batches


class Decomposition:
    def __init__(self, spark, tracer, params, salted: bool):
        self.spark = spark
        self.tracer = tracer
        # the stream plan has no salted shuffle: build it without one
        self.params = params if salted else dataclasses.replace(params, salt_mode="never")
        self.salted = salted
        self.rows: dict = {}  # span -> rows its prefix emitted, summed over calls
        self.lineage_rows = 0  # rows the batch commit appended to extract_metrics
        self._ids = itertools.count()

    def _prefix(self, src, upto: str, metrics):
        from png_from_pdf_extracter_spark.operators import (
            completed_partitions,
            pending_only,
            salted_repartition,
        )
        from png_from_pdf_extracter_spark.plans import extract_turns
        from png_from_pdf_extracter_spark.sources import with_partition_id

        p = self.params
        if upto == "udf":
            return extract_turns(self.spark, src, p, metrics)
        df = with_partition_id(src.filter(F.col("role").rlike(p.role_whitelist)), p.n_buckets)
        if upto == "scan":
            return df
        if metrics is not None:
            df = pending_only(df, completed_partitions(metrics, p.extractor_version))
        if upto == "resume":
            return df
        if self.salted:
            num = p.num_partitions or max(2, self.spark.sparkContext.defaultParallelism * 2)
            df = salted_repartition(df, num, p.salt_buckets)
        if upto == "salt":
            return df
        return df.mapInPandas(identity, df.schema)

    def _noop(self, span: str, df) -> None:
        obs = Observation(f"{span}#{next(self._ids)}")
        with self.tracer.span(span):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
        self.rows[span] = self.rows.get(span, 0) + obs.get["rows"]

    def extraction(self, src, metrics) -> None:
        """Run the prefixes up to the UDF over ``src`` (raw transcript rows)."""
        stages = ["scan"]
        if metrics is not None:
            stages.append("resume")
        if self.salted:
            stages.append("salt")
        stages += ["arrow", "udf"]
        for st in stages:
            self._noop(STAGE[st], self._prefix(src, st, metrics))

    def commit(self, src, catalog, metrics) -> None:
        """The write and post-write steps of ``run_job`` against ``catalog``
        in its pre-run state (``metrics``: its lineage table, or None)."""
        from png_from_pdf_extracter_spark.operators import (
            completed_partitions,
            pending_only,
            split_quarantine,
        )
        from png_from_pdf_extracter_spark.plans import extract_turns
        from png_from_pdf_extracter_spark.plans.extract_plan import _final_turn_columns
        from png_from_pdf_extracter_spark.plans.metrics import METRICS_SCHEMA, partition_metrics

        spark, p = self.spark, self.params
        started_at = _dt.datetime.now(_dt.timezone.utc)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

        def written():
            w = catalog.read(spark, "extracted_turns")
            if metrics is not None:
                w = pending_only(w, completed_partitions(metrics, p.extractor_version))
            return w

        with self.tracer.span("plans.write"):
            out = _final_turn_columns(extract_turns(spark, src, p, metrics), p)
            out.write.mode("overwrite").partitionBy("partition_id").parquet(
                catalog.path("extracted_turns")
            )
        with self.tracer.span("plans.readback"):
            written().write.format("noop").mode("overwrite").save()
        with self.tracer.span("operators.quarantine"):
            _, quarantined = split_quarantine(written())
            quarantined.write.mode("overwrite").partitionBy("partition_id").parquet(
                catalog.path("extract_errors")
            )
        with self.tracer.span("plans.lineage"):
            m_rows = partition_metrics(written(), p.extractor_version, started_at).collect()
            if m_rows:
                catalog.append(spark.createDataFrame(m_rows, METRICS_SCHEMA), "extract_metrics")
        self.lineage_rows += len(m_rows)

    def micro_batch(self, batch_df, batch_id: int, catalog) -> None:
        """One micro-batch of raw rows: the prefixes, then the two steps of
        ``stream_extract_to_catalog``'s ``commit_batch``."""
        from png_from_pdf_extracter_spark.plans import extract_turns
        from png_from_pdf_extracter_spark.plans.extract_plan import _final_turn_columns
        from png_from_pdf_extracter_spark.plans.metrics import partition_metrics

        spark, p = self.spark, self.params
        self.extraction(batch_df, None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        with self.tracer.span("plans.write"):
            out = _final_turn_columns(extract_turns(spark, batch_df, p), p).withColumn(
                "batch_id", F.lit(batch_id)
            )
            out = out.persist()
            out.write.mode("overwrite").partitionBy("batch_id", "partition_id").parquet(
                catalog.path("extracted_turns_stream")
            )
        try:
            with self.tracer.span("plans.lineage"):
                m = partition_metrics(
                    out, p.extractor_version, _dt.datetime.now(_dt.timezone.utc)
                ).withColumn("batch_id", F.lit(batch_id))
                catalog.append(m, "extract_metrics_stream")
        finally:
            out.unpersist()

    def self_seconds(self) -> dict:
        """Self seconds per stage, summed over every call made so far."""
        t = self.tracer.seconds
        ran = [s for s in STAGE.values() if s in self.rows]
        out, prev = {}, 0.0
        for span in ran:
            out[span] = t(span) - prev
            prev = t(span)
        # the write span recomputes the UDF prefix before writing
        out["plans.write"] = t("plans.write") - t("plans.udf")
        readback = t("plans.readback")
        if readback:
            # quarantine and lineage each scan the read-back once more
            out["plans.readback"] = 2 * readback
            out["operators.quarantine"] = t("operators.quarantine") - readback
            out["plans.lineage"] = t("plans.lineage") - readback
        else:
            out["plans.lineage"] = t("plans.lineage")
        return out


def kernel(texts_by_class: dict, cfg) -> dict:
    """``extract_batch_lists`` in this process, no Spark: total busy seconds,
    turns per second, and busy seconds per payload class."""
    from png_from_pdf_extracter_spark.extractor import extract_batch_lists

    out, total, n = {}, 0.0, 0
    for cls, texts in texts_by_class.items():
        t0 = time.perf_counter()
        extract_batch_lists(texts, cfg)
        dt = time.perf_counter() - t0
        out[f"extractor.busy_s.{cls}"] = dt
        total += dt
        n += len(texts)
    out["extractor.busy_s"] = total
    out["extractor.turns_per_s"] = n / total if total > 0 else 0.0
    return out
