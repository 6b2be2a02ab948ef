"""Driver queries over ``functions/drift.py`` (distribution drift)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import drift
from png_from_pdf_extracter_spark.functions.drift import (
    psi_drift,
    quantile_normalize,
    wasserstein_1d,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH base AS (
              SELECT event_type, value FROM events
              WHERE ts < TIMESTAMP '2024-01-16'
            ),
            cur AS (
              SELECT event_type, value FROM events
              WHERE ts >= TIMESTAMP '2024-01-16'
            ),
            edges AS (
              SELECT event_type,
                     list_transform(
                       quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                             0.6, 0.7, 0.8, 0.9]),
                       x -> round(x, 4)) AS edges
              FROM base GROUP BY event_type
            ),
            bb AS (
              SELECT b.event_type,
                     1 + len(list_filter(e.edges, x -> b.value > x))
                       AS bucket,
                     count(*) AS n_b
              FROM base b JOIN edges e USING (event_type)
              GROUP BY 1, 2
            ),
            cb AS (
              SELECT c.event_type,
                     1 + len(list_filter(e.edges, x -> c.value > x))
                       AS bucket,
                     count(*) AS n_c
              FROM cur c JOIN edges e USING (event_type)
              GROUP BY 1, 2
            ),
            j AS (
              SELECT coalesce(bb.event_type, cb.event_type) AS event_type,
                     coalesce(n_b, 0) AS n_b, coalesce(n_c, 0) AS n_c
              FROM bb FULL OUTER JOIN cb
                ON bb.event_type = cb.event_type AND bb.bucket = cb.bucket
            ),
            t AS (
              SELECT event_type, sum(n_b) AS tb, sum(n_c) AS tc
              FROM j GROUP BY event_type
            )
            SELECT j.event_type,
                   min(tb)::BIGINT AS n_base,
                   min(tc)::BIGINT AS n_cur,
                   round(sum(
                     ((n_c + 0.5) / (tc + 5.0) - (n_b + 0.5) / (tb + 5.0))
                     * ln(((n_c + 0.5) / (tc + 5.0))
                          / ((n_b + 0.5) / (tb + 5.0)))), 5) AS psi
            FROM j JOIN t USING (event_type)
            GROUP BY j.event_type
        """)
def _q_psi_drift(spark, sf_dir):
    """Population Stability Index between the first and second half of
    the events timeline, per event_type (functions/drift.py) — the
    distribution-drift gate a weekly ingest runs before promoting a
    snapshot. Buckets by the BASE half's rounded decile edges."""

    e = read(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    base = e.filter(F.col("ts") < cut).select("event_type", "value")
    cur = e.filter(F.col("ts") >= cut).select("event_type", "value")
    return psi_drift(base, cur, "value", "event_type")


@query(oracle="""
            WITH u AS (
              SELECT round(value, 2) AS v, 1 AS s FROM events
              WHERE event_type = 'view' AND value IS NOT NULL
              UNION ALL
              SELECT round(value, 2) AS v, 0 AS s FROM events
              WHERE event_type = 'purchase' AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS cb, sum(1 - s)::BIGINT AS cc
              FROM u GROUP BY v
            ),
            cum AS (
              SELECT sum(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS kb,
                     sum(cc) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     )::BIGINT AS kc
              FROM cnt
            ),
            tot AS (
              SELECT sum(cb)::BIGINT AS nb, sum(cc)::BIGINT AS nc FROM cnt
            )
            SELECT any_value(nb)::BIGINT AS n_base,
                   any_value(nc)::BIGINT AS n_cur,
                   max(abs(kb * nc - kc * nb))::BIGINT AS ks_num,
                   round(max(abs(kb * nc - kc * nb))
                         / CAST(any_value(nb) * any_value(nc) AS DOUBLE),
                         6) AS ks
            FROM cum, tot
        """)
def _q_ks_drift(spark, sf_dir):
    ev = read(spark, sf_dir, "events")
    return drift.ks_statistic(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
        quantize=2,
    )


@query(oracle="""
            WITH pooled AS (
              SELECT CAST(round(value * 100, 0) AS BIGINT) AS v,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS s
              FROM events
              WHERE event_type IN ('purchase', 'view')
                AND value IS NOT NULL
            ),
            cnt AS (
              SELECT v, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM pooled GROUP BY v
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
              FROM cnt
            ),
            cums AS (
              SELECT v,
                     sum(ca) OVER w AS cumA,
                     sum(cb) OVER w AS cumB
              FROM cnt
              WINDOW w AS (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
            ),
            run AS (
              SELECT v,
                     lag(v) OVER (ORDER BY v) AS v_prev,
                     lag(cumA) OVER (ORDER BY v) AS pA,
                     lag(cumB) OVER (ORDER BY v) AS pB
              FROM cums
            ),
            emd AS (
              SELECT sum(
                       abs(pA::HUGEINT * nb::HUGEINT
                           - pB::HUGEINT * na::HUGEINT)
                       * (v - v_prev)::HUGEINT
                     ) AS emd_int
              FROM run, tot WHERE v_prev IS NOT NULL
            )
            SELECT na AS n_a, nb AS n_b,
                   CASE WHEN na > 0 AND nb > 0 THEN
                     floor(
                       coalesce(emd_int, 0)::DOUBLE
                       / (na::DOUBLE * nb::DOUBLE * 100.0) * 1e6
                     ) / 1e6
                   END AS emd_q
            FROM tot, emd
        """)
def _q_wasserstein(spark, sf_dir):
    """Exact 1-D Wasserstein-1 drift (drift.wasserstein_1d) between
    purchase and view event-value distributions: the integral of
    |F_a - F_b| as an exact DECIMAL integer until one final division
    — reports HOW FAR the mass moved, in value units."""

    ev = read(spark, sf_dir, "events")
    return wasserstein_1d(
        ev, "value", "event_type", "purchase", "view", quantize=2
    )


@query(oracle="""
            WITH vals AS (
              SELECT source AS g, doc_id AS id,
                     CAST(round(n_chars * 1.0, 0) AS BIGINT) AS vq
              FROM documents
            ),
            pooled AS (
              SELECT vq, count(*)::BIGINT AS c FROM vals GROUP BY vq
            ),
            cumt AS (
              SELECT vq, sum(c) OVER (ORDER BY vq)::BIGINT AS cum
              FROM pooled
            ),
            tot AS (SELECT sum(c)::BIGINT AS N FROM pooled),
            pos AS (
              SELECT b, CAST(floor(
                       (b * (N - 1))::DOUBLE / 64.0
                     ) AS BIGINT) + 1 AS p
              FROM (SELECT unnest(range(65)) AS b) bb, tot
            ),
            anch AS (
              SELECT b, min(vq) AS av
              FROM pos JOIN cumt ON cumt.cum >= pos.p
              GROUP BY b
            ),
            ranked AS (
              SELECT g, id, vq,
                     row_number() OVER (
                       PARTITION BY g ORDER BY vq, id
                     )::BIGINT AS i,
                     count(*) OVER (PARTITION BY g)::BIGINT AS ng
              FROM vals
            ),
            rb AS (
              SELECT g, id, vq,
                     CASE WHEN ng = 1 THEN 32
                          ELSE CAST(floor(
                            ((i - 1) * 64)::DOUBLE / (ng - 1)::DOUBLE
                          ) AS BIGINT)
                     END AS b
              FROM ranked
            )
            SELECT g, id, vq::DOUBLE AS value_q, av::DOUBLE AS norm_q
            FROM rb JOIN anch USING (b)
        """)
def _q_quantile_norm(spark, sf_dir):
    """Quantile normalization of per-source document lengths onto the
    pooled length distribution (drift.quantile_normalize): each doc's
    within-source length rank maps to the pooled quantile anchor —
    the cross-source batch-effect remover. 64 anchors, integer anchor
    inversion (O(C) explode, not O(C*B) join)."""

    d = read(spark, sf_dir, "documents")
    return quantile_normalize(
        d, "source", "doc_id", "n_chars", anchors=64
    )
