"""Driver queries over ``functions/incremental.py`` (incremental (snapshot-
diff) processing)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import incremental
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT event_type,
                   count(value)::BIGINT AS n,
                   round(sum(value) / count(value), 4) AS mean,
                   round(CASE WHEN count(value) >= 2 THEN
                     sqrt(greatest(
                       (sum(value * value)
                        - sum(value) * sum(value) / count(value))
                       / (count(value) - 1), 0.0)) END, 4) AS std,
                   round(min(value), 4) AS mn,
                   round(max(value), 4) AS mx
            FROM events GROUP BY event_type
        """)
def _q_incremental_profile(spark, sf_dir):
    """Incremental aggregate maintenance, verified by the merge law:
    split the events table into two disjoint snapshots (old corpus /
    newly-landed batch), aggregate each into mergeable partial states,
    merge, finalize — the oracle computes the same moments DIRECTLY over
    the whole table, so a green row proves merge(partial(A), partial(B))
    == direct(A ∪ B). This is how a 10^12-turn metrics table absorbs a
    new batch without re-aggregating the corpus."""
    e = read(spark, sf_dir, "events")
    old = e.filter(F.col("event_id") % 2 == 0)
    delta = e.filter(F.col("event_id") % 2 == 1)
    merged = incremental.merge_profiles(
        "event_type",
        incremental.partial_profile(old, "event_type", "value"),
        incremental.partial_profile(delta, "event_type", "value"),
    )
    return incremental.finalize_profile(merged, "event_type")
