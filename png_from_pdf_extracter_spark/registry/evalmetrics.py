"""Driver queries over ``functions/evalmetrics.py`` (evaluation metrics and
calibration)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import (
    curate,
    evalmetrics,
    similarity,
    text,
)
from png_from_pdf_extracter_spark.functions.curate import hashed_linear_score
from png_from_pdf_extracter_spark.functions.evalmetrics import (
    average_precision,
    best_f1_threshold,
    brier_decomposition,
    cohens_kappa,
    conformal_threshold,
    doubly_robust_value,
    expected_calibration_error,
    fairness_gaps,
    fleiss_kappa,
    hosmer_lemeshow,
    krippendorff_alpha_nominal,
    logreg_score,
    logreg_train,
    mcc,
    mcnemar_test,
    naive_bayes_predict,
    naive_bayes_train,
    off_policy_value,
    partition_agreement,
    rank_biased_precision,
    retrieval_metrics,
    risk_coverage_curve,
    spiegelhalter_z,
    weighted_kappa,
    youden_j_threshold,
)
from png_from_pdf_extracter_spark.functions.text import (
    _lang_hits,
    lang_id,
    tokens,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import LANG_CASE, read


def _rater_long(spark, sf_dir):
    """Three deterministic 3-class raters over documents — the shared
    long table for the multi-rater agreement queries."""
    d = read(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.lit("r1").alias("rater"),
            (F.col("n_chars") % 3).cast("int").alias("label"),
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r2").alias("rater"),
                (F.floor(F.col("n_chars") / 7) % 3)
                .cast("int")
                .alias("label"),
            )
        )
        .unionByName(
            d.select(
                "doc_id",
                F.lit("r3").alias("rater"),
                F.when(F.col("n_chars") < 300, 0)
                .when(F.col("n_chars") < 900, 1)
                .otherwise(2)
                .cast("int")
                .alias("label"),
            )
        )
    )


@query(oracle="""
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            r AS (
              SELECT source, y, score,
                     2 * rank() OVER (PARTITION BY source ORDER BY score)
                       + count(*) OVER (PARTITION BY source, score) - 1 AS r2
              FROM sc
            ),
            a AS (
              SELECT source,
                     sum(y)::BIGINT AS n_pos,
                     (count(*) - sum(y))::BIGINT AS n_neg,
                     sum(CASE WHEN y = 1 THEN r2 ELSE 0 END)::BIGINT AS r2pos,
                     sum(CASE WHEN score > 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
                     sum(CASE WHEN score > 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
                     sum(CASE WHEN score <= 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
                     sum(CASE WHEN score <= 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
              FROM r GROUP BY source
            )
            SELECT source, n_pos, n_neg,
                   (r2pos - n_pos * (n_pos + 1))::BIGINT AS auc_num2,
                   CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                     (r2pos - n_pos * (n_pos + 1))::DOUBLE
                       / (2 * n_pos * n_neg)::DOUBLE
                   END AS auc,
                   tp, fp, fn, tn
            FROM a
        """)
def _q_classifier_auc(spark, sf_dir):
    """Quality-classifier evaluation: ROC-AUC (Mann-Whitney rank-sum,
    exact BIGINT numerator — functions/evalmetrics.py) + confusion
    counts at threshold 0 of the hashed linear classifier
    (curate.hashed_linear_score) against a planted label (lang='en'),
    stratified by source. One window exchange + two combinable
    aggregates joined on the tiny group key."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    auc = evalmetrics.roc_auc(scored, "score", "y", group_cols=("source",))
    conf = evalmetrics.confusion_counts(
        scored, F.col("score") > 0, "y", group_cols=("source",)
    )
    return auc.join(F.broadcast(conf), "source")


@query(oracle="""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            g AS (
              SELECT query_id,
                     count(*) AS n_ranked,
                     list((pow(2.0, rel) - 1.0) / log2(rank + 1.0)
                          ORDER BY rank) AS dterms,
                     list(rel ORDER BY rel DESC) AS ideal
              FROM judged GROUP BY query_id
            ),
            f AS (
              SELECT query_id, n_ranked,
                     list_aggregate(dterms, 'sum') AS dcg_raw,
                     list_aggregate(list_transform(
                       range(1, len(ideal) + 1),
                       i -> (pow(2.0, ideal[i]) - 1.0) / log2(i + 1.0)
                     ), 'sum') AS idcg_raw
              FROM g
            )
            SELECT query_id,
                   n_ranked::INTEGER AS n_ranked,
                   floor(dcg_raw * 1e6) / 1e6 AS dcg,
                   floor(idcg_raw * 1e6) / 1e6 AS idcg,
                   CASE WHEN idcg_raw > 0 THEN
                     floor(dcg_raw / idcg_raw * 1e6) / 1e6
                   END AS ndcg
            FROM f
        """)
def _q_ndcg(spark, sf_dir):
    """Retrieval-quality NDCG@10 (evalmetrics.ndcg_at_k): exact cosine
    top-10 for query vectors 0-4, binary relevance = neighbor shares
    the query's class label; DCG/IDCG as order-pinned array folds
    (never a float SUM aggregate), floor-6dp."""

    e = read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return evalmetrics.ndcg_at_k(judged, k=10)


@query(oracle="""
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            )
            SELECT least(greatest(
                     floor(((s4::DOUBLE / 10000.0) - (-1.0)) / 0.2)::INTEGER,
                     0), 9) AS bin,
                   count(*)::BIGINT AS n,
                   sum(y)::BIGINT AS n_pos,
                   sum(y)::DOUBLE / count(*)::DOUBLE AS pos_rate,
                   sum(s4)::DOUBLE / (count(*) * 10000)::DOUBLE AS mean_score
            FROM sc GROUP BY 1
        """)
def _q_calibration(spark, sf_dir):
    """Classifier reliability diagram (evalmetrics.calibration_bins):
    the hashed linear score vs the lang='en' label in 10 equal-width
    bins over [-1,1]; pos_rate exact rational, mean_score rebuilt from
    the BIGINT sum of the 4dp-quantized scores (order-independent)."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        curate.hashed_linear_score("text").alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return evalmetrics.calibration_bins(scored, "score", "y", n_bins=10)


@query(oracle=f"""
            WITH p AS (
              SELECT lang AS a, {LANG_CASE} AS b FROM documents
            ),
            na AS (
              SELECT count(*)::BIGINT AS n,
                     sum((a = b)::INTEGER)::BIGINT AS agree
              FROM p
            ),
            ma AS (SELECT a, count(*)::BIGINT AS ra FROM p GROUP BY a),
            mb AS (
              SELECT b AS a, count(*)::BIGINT AS rb FROM p GROUP BY b
            ),
            cx AS (
              SELECT coalesce(sum(ra * rb), 0)::BIGINT AS chance_x
              FROM ma JOIN mb USING (a)
            )
            SELECT n, agree, chance_x,
                   CASE WHEN n * n <> chance_x THEN
                     floor((n * agree - chance_x)::DOUBLE
                           / (n * n - chance_x)::DOUBLE * 1e6) / 1e6
                   END AS kappa_q6
            FROM na, cx
        """)
def _q_kappa_langid(spark, sf_dir):
    """Cohen's kappa between the lang-ID heuristic and the stored lang
    label (functions/evalmetrics.py cohens_kappa) — chance-corrected
    agreement, the honesty check behind the heuristic's raw accuracy:
    exact BIGINT margins, one float division."""

    d = read(spark, sf_dir, "documents").select(
        "lang", lang_id("text").alias("pred")
    )
    return cohens_kappa(d, "lang", "pred")


@query(oracle="""
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            bt AS (
              SELECT least(greatest(CAST(floor(
                       ((s4::DOUBLE / 10000.0) - (-1.0)) / 2.0 * 20
                     ) AS INT), 0), 19) AS bin,
                     count(*)::BIGINT AS w, sum(y)::BIGINT AS s
              FROM sc GROUP BY 1
            ),
            idx AS (
              SELECT bin, w, s,
                     row_number() OVER (ORDER BY bin)::BIGINT AS k
              FROM bt
            ),
            pre AS (
              SELECT k, bin, w, s,
                     sum(w) OVER (ORDER BY k)::BIGINT AS cw,
                     sum(s) OVER (ORDER BY k)::BIGINT AS cs
              FROM idx
            ),
            trip AS (
              SELECT kk.k AS k, i.k AS ki,
                     (j.cs - (i.cs - i.s))::DOUBLE
                       / (j.cw - (i.cw - i.w))::DOUBLE AS a
              FROM pre i, pre kk, pre j
              WHERE i.k <= kk.k AND j.k >= kk.k
            ),
            innr AS (
              SELECT k, ki, min(a) AS mn FROM trip GROUP BY k, ki
            ),
            fit AS (SELECT k, max(mn) AS f FROM innr GROUP BY k)
            SELECT b.bin::INT AS bin, b.w AS n, b.s AS pos,
                   CAST(floor(f * 1e6) AS BIGINT) AS fit_ppm
            FROM idx b JOIN fit USING (k)
        """)
def _q_isotonic(spark, sf_dir):
    """Isotonic calibration of the hashed linear quality score vs the
    lang='en' label (evalmetrics.isotonic_calibrate): binned PAVA with
    integer merge decisions driver-side over <=20 bins; the oracle
    recomputes the fit by the O(B^3) minimax duality. Score pre-floored
    to 4dp (the q_calibration convention) so binning is cross-engine
    exact."""

    d = read(spark, sf_dir, "documents")
    s4 = F.floor(
        curate.hashed_linear_score("text") * F.lit(10000.0)
    ) / F.lit(10000.0)
    scored = d.select(
        s4.alias("score"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return evalmetrics.isotonic_calibrate(
        scored, "score", "y", n_bins=20
    )


@query(oracle="""
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            bins AS (
              SELECT least(greatest(
                       floor(((s4::DOUBLE / 10000.0) - (-1.0)) / 0.2
                       )::INTEGER, 0), 9) AS bin,
                     count(*)::BIGINT AS n,
                     sum(y)::DOUBLE / count(*)::DOUBLE AS pos_rate,
                     sum(s4)::DOUBLE / (count(*) * 10000)::DOUBLE
                       AS mean_score
              FROM sc GROUP BY 1
            ),
            tot AS (SELECT sum(n)::BIGINT AS nn FROM bins),
            stepped AS (
              SELECT nn,
                sum(n::DOUBLE / nn::DOUBLE
                    * abs(pos_rate - mean_score)) OVER (ORDER BY bin
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS ece,
                max(abs(pos_rate - mean_score)) OVER () AS mce,
                row_number() OVER (ORDER BY bin) AS rn,
                count(*) OVER () AS k
              FROM bins, tot
            )
            SELECT nn AS n, k::BIGINT AS n_bins_used,
              floor(ece * 1e6) / 1e6 AS ece_q6,
              floor(mce * 1e6) / 1e6 AS mce_q6
            FROM stepped WHERE rn = k
        """)
def _q_ece(spark, sf_dir):
    """Expected / maximum calibration error of the hashed linear
    classifier (functions/evalmetrics.py expected_calibration_error):
    the one-number summary over q_calibration's reliability bins,
    weighted in fixed bin order."""

    d = read(spark, sf_dir, "documents").select(
        (F.col("lang") == "en").cast("long").alias("y"),
        curate.hashed_linear_score("text").alias("score"),
    )
    return expected_calibration_error(d, "score", "y")


@query(oracle="""
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000.0)::BIGINT AS s4
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            cells AS (
              SELECT source AS "group", count(*)::BIGINT AS n,
                sum(CASE WHEN s4 > 0 AND y = 1 THEN 1 ELSE 0
                    END)::BIGINT AS tp,
                sum(CASE WHEN s4 > 0 AND y = 0 THEN 1 ELSE 0
                    END)::BIGINT AS fp,
                sum(CASE WHEN s4 <= 0 AND y = 1 THEN 1 ELSE 0
                    END)::BIGINT AS fn,
                sum(CASE WHEN s4 <= 0 AND y = 0 THEN 1 ELSE 0
                    END)::BIGINT AS tn
              FROM sc GROUP BY 1
            ),
            rates AS (
              SELECT "group", n,
                floor((tp + fp)::DOUBLE / n::DOUBLE * 1e6) / 1e6
                  AS sel_rate_q6,
                CASE WHEN tp + fn > 0 THEN
                  floor(tp::DOUBLE / (tp + fn)::DOUBLE * 1e6) / 1e6
                END AS tpr_q6,
                CASE WHEN fp + tn > 0 THEN
                  floor(fp::DOUBLE / (fp + tn)::DOUBLE * 1e6) / 1e6
                END AS fpr_q6
              FROM cells
            )
            SELECT "group", n, sel_rate_q6, tpr_q6, fpr_q6,
              max(sel_rate_q6) OVER () - min(sel_rate_q6) OVER ()
                AS sel_gap_q6,
              max(tpr_q6) OVER () - min(tpr_q6) OVER () AS tpr_gap_q6,
              max(fpr_q6) OVER () - min(fpr_q6) OVER () AS fpr_gap_q6
            FROM rates
        """)
def _q_fairness(spark, sf_dir):
    """Per-source fairness audit of the classifier gate at threshold 0
    (functions/evalmetrics.py fairness_gaps): selection rate, TPR, FPR
    per source plus each metric's max pairwise gap — demographic
    parity and equalized odds next to q_classifier_auc's accuracy."""

    d = read(spark, sf_dir, "documents").select(
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return fairness_gaps(
        d.withColumn("pred", F.col("score") > 0), "pred", "y", "source"
    )


@query(oracle="""
            WITH sc AS (
              SELECT source, doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, doc_id, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            r AS (
              SELECT source, y,
                row_number() OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id ASC) AS rr,
                sum(y) OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cp
              FROM sc
            ),
            stepped AS (
              SELECT source,
                sum(CASE WHEN y = 1 THEN cp::DOUBLE / rr::DOUBLE
                         ELSE 0.0 END) OVER (PARTITION BY source
                  ORDER BY rr ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS aps,
                sum(y) OVER (PARTITION BY source) AS n_pos,
                count(*) OVER (PARTITION BY source)
                  - sum(y) OVER (PARTITION BY source) AS n_neg,
                rr,
                count(*) OVER (PARTITION BY source) AS n
              FROM r
            )
            SELECT source, n_pos::BIGINT AS n_pos,
                   n_neg::BIGINT AS n_neg,
              CASE WHEN n_pos > 0 THEN
                floor(aps / n_pos::DOUBLE * 1e6) / 1e6
              END AS ap_q6
            FROM stepped WHERE rr = n
        """)
def _q_avg_precision(spark, sf_dir):
    """Average precision of the hashed linear quality classifier per
    source (functions/evalmetrics.py average_precision): the PR-curve
    area q_classifier_auc's ROC number hides under class imbalance.
    (score desc, doc_id asc) pins tied-score order on both engines;
    precision terms accumulate in rank order."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return average_precision(
        scored, "score", "y", "doc_id", group_cols=("source",)
    )


@query(oracle="""
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT source,
                     CAST(round(score * 10000, 0) AS BIGINT) AS s, y
              FROM sc
            ),
            per AS (
              SELECT source, s, sum(y)::BIGINT AS p,
                     sum(1 - y)::BIGINT AS q
              FROM base GROUP BY source, s
            ),
            cum AS (
              SELECT source, s,
                sum(p) OVER wd AS tp,
                sum(q) OVER wd AS fp,
                sum(p) OVER (PARTITION BY source)
                  - sum(p) OVER wd AS fn
              FROM per
              WINDOW wd AS (PARTITION BY source ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            cand AS (
              SELECT source, s, tp, fp, fn,
                CAST(floor((2 * tp)::DOUBLE
                     / (2 * tp + fp + fn)::DOUBLE * 1e12) AS BIGINT)
                  AS f1q
              FROM cum
            ),
            best AS (
              SELECT source, s, tp, fp, fn, f1q,
                row_number() OVER (PARTITION BY source
                  ORDER BY f1q DESC, s DESC) AS rn
              FROM cand
            )
            SELECT source, s::DOUBLE / 10000.0 AS threshold, tp, fp, fn,
              floor(f1q::DOUBLE / 1e6) / 1e6 AS f1_q6
            FROM best WHERE rn = 1
        """)
def _q_best_f1(spark, sf_dir):
    """Best-F1 operating point of the same classifier per source
    (functions/evalmetrics.py best_f1_threshold): sweep every distinct
    4dp score as the gate, integer cumulative (tp, fp, fn) over the
    distinct-score table, deterministic argmax with
    highest-threshold ties."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return best_f1_threshold(
        scored, "score", "y", quantize=4, group_cols=("source",)
    )


@query(oracle="""
            WITH base AS (
              SELECT lang AS a, source AS b FROM documents
              WHERE lang IS NOT NULL AND source IS NOT NULL
            ),
            ab AS (
              SELECT a, b, count(*)::BIGINT AS c FROM base GROUP BY a, b
            ),
            ma AS (SELECT a, sum(c)::BIGINT AS ca FROM ab GROUP BY a),
            mb AS (SELECT b, sum(c)::BIGINT AS cb FROM ab GROUP BY b),
            sa2 AS (
              SELECT CAST(sum(CAST(ca AS DECIMAL(38,0))
                     * CAST(ca - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS sad FROM ma
            ),
            sb2 AS (
              SELECT CAST(sum(CAST(cb AS DECIMAL(38,0))
                     * CAST(cb - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS sbd FROM mb
            ),
            ix AS (
              SELECT CAST(sum(CAST(c AS DECIMAL(38,0))
                     * CAST(c - 1 AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS ixd FROM ab
            ),
            tot AS (SELECT sum(c)::BIGINT AS n FROM ab),
            cells AS (
              SELECT a, b, c,
                     sum(c) OVER (PARTITION BY a) AS cma,
                     sum(c) OVER (PARTITION BY b) AS cmb
              FROM ab
            ),
            stepped AS (
              SELECT
                sum(c::DOUBLE / n::DOUBLE
                    * ln(n::DOUBLE / c::DOUBLE)) OVER w AS hab,
                sum(c::DOUBLE / n::DOUBLE
                    * ln(cmb::DOUBLE / c::DOUBLE)) OVER w AS hagb,
                sum(c::DOUBLE / n::DOUBLE
                    * ln(cma::DOUBLE / c::DOUBLE)) OVER w AS hbga,
                row_number() OVER (ORDER BY a, b) AS rn,
                count(*) OVER () AS k
              FROM cells, tot
              WINDOW w AS (ORDER BY a, b ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW)
            ),
            lastr AS (SELECT hab, hagb, hbga FROM stepped WHERE rn = k),
            f AS (
              SELECT n,
                ixd::DOUBLE / 2.0 AS idx,
                sad::DOUBLE / 2.0 AS sav,
                sbd::DOUBLE / 2.0 AS sbv,
                hab, hagb, hbga,
                hab - hbga AS ha, hab - hagb AS hb2
              FROM lastr, sa2, sb2, ix, tot
            ),
            g AS (
              SELECT n, hab, hagb, hbga, ha, hb2,
                idx - sav * sbv
                  / (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0) AS num,
                (sav + sbv) / 2.0
                  - sav * sbv
                    / (n::DOUBLE * (n::DOUBLE - 1.0) / 2.0) AS den
              FROM f
            )
            SELECT n,
              CASE WHEN den <> 0 THEN floor(num / den * 1e6) / 1e6
              END AS ari_q6,
              CASE WHEN ha > 0 AND hb2 > 0 THEN
                floor((ha - hagb) / sqrt(ha * hb2) * 1e6) / 1e6
              END AS nmi_q6,
              CASE WHEN ha > 0 THEN
                floor((1.0 - hagb / ha) * 1e6) / 1e6
              END AS homogeneity_q6,
              CASE WHEN hb2 > 0 THEN
                floor((1.0 - hbga / hb2) * 1e6) / 1e6
              END AS completeness_q6,
              CASE WHEN ha > 0 AND hb2 > 0
                   AND ((1.0 - hagb / ha) + (1.0 - hbga / hb2)) > 0
              THEN
                floor(2.0 * (1.0 - hagb / ha) * (1.0 - hbga / hb2)
                      / ((1.0 - hagb / ha) + (1.0 - hbga / hb2))
                      * 1e6) / 1e6
              END AS v_q6
            FROM g
        """)
def _q_partition_agreement(spark, sf_dir):
    """Clustering-agreement battery between the language and source
    labelings of the corpus (functions/evalmetrics.py
    partition_agreement): ARI from exact doubled pair-count DECIMAL
    sums, NMI / homogeneity / completeness / V-measure from
    fixed-order stepped entropies over the contingency table."""

    d = read(spark, sf_dir, "documents")
    return partition_agreement(d, "lang", "source")


@query(oracle="""
            WITH base AS (
              SELECT
                CAST(round(value * 100, 0) AS BIGINT) AS r,
                CASE WHEN event_type =
                       (CASE WHEN user_id % 2 = 0 THEN 'purchase'
                             ELSE 'click' END)
                     THEN 1 ELSE 0 END AS m,
                25200 // ((CAST(('0x' || substring(
                    md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 9) + 1) AS w
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(m)::BIGINT AS n_match,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS ww,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))
                         * CAST(r AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS s,
                CAST(sum(CAST(m * w AS DECIMAL(38,0))
                         * CAST(m * w AS DECIMAL(38,0)))
                     AS DECIMAL(38,0)) AS w2
              FROM base
            )
            SELECT n, n_match,
              floor(s::DOUBLE / 2520.0 / n::DOUBLE / 100.0 * 1e6) / 1e6
                AS ips_q6,
              CASE WHEN n_match > 0 THEN
                floor(s::DOUBLE / ww::DOUBLE / 100.0 * 1e6) / 1e6
              END AS snips_q6,
              CASE WHEN n_match > 0 THEN
                floor(ww::DOUBLE * ww::DOUBLE / w2::DOUBLE * 1e6) / 1e6
              END AS ess_q6
            FROM agg
        """)
def _q_off_policy(spark, sf_dir):
    """IPS/SNIPS off-policy evaluation (functions/evalmetrics.py
    off_policy_value): what would the 'purchase for even users, click
    for odd' routing policy have earned on the logged traffic? Logged
    propensities are deterministic md5-derived tenths (1..9), so every
    importance weight is the exact rational 10/k and the estimate is
    integer until the terminal divisions."""

    ev = read(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.when(F.col("user_id") % 2 == 0, F.lit("purchase"))
        .otherwise(F.lit("click"))
        .alias("target"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 9
            + 1
        ).alias("k"),
        "value",
    )
    return off_policy_value(ev, "action", "target", "k", "value")


@query(oracle="""
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents WHERE lang IS NOT NULL
            ),
            lw AS (
              SELECT lang AS label, word, count(*)::BIGINT AS c
              FROM toks GROUP BY label, word
            ),
            lt AS (
              SELECT lang AS label, count(*)::BIGINT AS t
              FROM toks GROUP BY label
            ),
            vv AS (SELECT count(DISTINCT word)::BIGINT AS v FROM toks),
            dn AS (
              SELECT lang AS label, count(*)::BIGINT AS dnn
              FROM documents WHERE lang IS NOT NULL GROUP BY label
            ),
            dd AS (SELECT sum(dnn)::BIGINT AS d FROM dn),
            wm AS (
              SELECT word, lw.label,
                CAST(floor(ln((c::DOUBLE + 1.0)
                              / (t::DOUBLE + 1.0 * v::DOUBLE)) * 1e6)
                     AS BIGINT) AS lp_q
              FROM lw JOIN lt ON lw.label = lt.label, vv
            ),
            lm AS (
              SELECT lt.label,
                CAST(floor(ln(dnn::DOUBLE / d::DOUBLE) * 1e6)
                     AS BIGINT) AS prior_q,
                CAST(floor(ln(1.0 / (t::DOUBLE + 1.0 * v::DOUBLE)) * 1e6)
                     AS BIGINT) AS oov_q
              FROM lt JOIN dn ON lt.label = dn.label, vv, dd
            ),
            fan AS (
              SELECT t.doc_id AS id, t.lang, t.word,
                     lm.label, lm.prior_q, lm.oov_q
              FROM toks t, lm
            ),
            scored AS (
              SELECT fan.id, fan.lang, fan.label,
                     sum(coalesce(wm.lp_q, fan.oov_q)) + max(fan.prior_q)
                       AS score_q
              FROM fan LEFT JOIN wm
                ON fan.word = wm.word AND fan.label = wm.label
              GROUP BY fan.id, fan.lang, fan.label
            ),
            best AS (
              SELECT id, lang, label AS pred FROM (
                SELECT id, lang, label,
                       row_number() OVER (
                         PARTITION BY id
                         ORDER BY score_q DESC, label ASC) AS rn
                FROM scored
              ) WHERE rn = 1
            )
            SELECT lang, pred, count(*)::BIGINT AS n
            FROM best GROUP BY lang, pred
        """)
def _q_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier
    (functions/evalmetrics.py naive_bayes_train/predict): train on the
    corpus's own (lang, word) counts with Laplace smoothing, score
    every doc against every label with INTEGER-quantized log-probs
    (float-order-immune sums), emit the resubstitution confusion
    matrix (lang, pred, n). The generative one-pass sibling of
    q_logreg_train."""

    d = read(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    )
    toks = tokens(F.col("text"))
    dd = d.select("doc_id", "lang", toks.alias("toks"))
    wm, lm = naive_bayes_train(dd, "toks", "lang")
    pred = naive_bayes_predict(dd, "doc_id", "toks", wm, lm)
    return (
        dd.select(F.col("doc_id").alias("id"), "lang")
        .join(pred, "id")
        .groupBy("lang", "pred")
        .agg(F.count("*").cast("long").alias("n"))
    )


@query(pin="tests/test_evalmetrics.py::test_logreg_matches_numpy_irls_twin")
def _q_logreg_train(spark, sf_dir):
    """Distill the rule-based language detector into a trained gate:
    logistic regression (evalmetrics.logreg_train, Newton/IRLS, 6
    passes) fit to predict lang_id(text)=='en' from per-language
    function-word hit rates — the classic "replace an expensive rule
    cascade with a cheap learned scorer" curation pattern. (The
    documents table's `lang` column is an independent synthetic label
    the text does not encode, so the detector output is the honest
    learnable target.) Driver state = a 4x4 Hessian per pass. Rows-only
    by design: cross-partition float-sum order moves the weights' low
    bits; the numpy IRLS parity pin (1e-6) lives in
    tests/test_evalmetrics.py. Output embeds per-row prediction vs
    label plus the train loss so the driver row captures model
    quality, not just shape."""

    d = read(spark, sf_dir, "documents")
    ntok = text.token_count("text")
    feats = d.select(
        "doc_id",
        (text.lang_id("text") == "en").cast("int").alias("y"),
        (_lang_hits(F.col("text"), "en") * 100.0 / ntok).alias("f_en"),
        (_lang_hits(F.col("text"), "de") * 100.0 / ntok).alias("f_de"),
        (_lang_hits(F.col("text"), "es") * 100.0 / ntok).alias("f_es"),
    ).na.drop()
    w, stats = logreg_train(feats, ("f_en", "f_de", "f_es"), "y", iters=6)
    score = logreg_score(feats, ("f_en", "f_de", "f_es"), w)
    return feats.select(
        "doc_id",
        "y",
        F.round(score, 3).alias("p_en"),
        (score > 0.5).cast("int").alias("pred"),
        F.lit(round(stats["log_loss"], 3)).alias("train_loss"),
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id, n_chars,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0
                     ) AS tok
              FROM documents
            ),
            preds AS (
              SELECT (n_chars >= 500) AS label,
                     ((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))
                     ELSE 0 END) > 0) AS pred_a,
                     (n_chars % 7 < 4) AS pred_b
              FROM toks
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                     sum(CASE WHEN pred_a = label AND pred_b <> label
                              THEN 1 ELSE 0 END)::BIGINT AS b,
                     sum(CASE WHEN pred_a <> label AND pred_b = label
                              THEN 1 ELSE 0 END)::BIGINT AS c,
                     sum(CASE WHEN pred_a = label THEN 1 ELSE 0 END)
                       ::BIGINT AS na,
                     sum(CASE WHEN pred_b = label THEN 1 ELSE 0 END)
                       ::BIGINT AS nb
              FROM preds
            )
            SELECT n, b, c,
                   CASE WHEN b + c > 0 THEN
                     floor((abs(b - c)::DOUBLE - 1.0)
                           * (abs(b - c)::DOUBLE - 1.0)
                           / (b + c)::DOUBLE * 1e6) / 1e6
                   END AS mcnemar_q6,
                   CAST(floor(na::DOUBLE / n::DOUBLE * 1e6) AS BIGINT)
                     AS acc_a_ppm,
                   CAST(floor(nb::DOUBLE / n::DOUBLE * 1e6) AS BIGINT)
                     AS acc_b_ppm
            FROM agg
        """)
def _q_mcnemar(spark, sf_dir):
    """McNemar paired-classifier test (functions/evalmetrics.py
    mcnemar_test): the hashed linear scorer (q_hash_classifier's model)
    vs a length heuristic, both predicting the n_chars >= 500 label on
    the same documents — only the discordant cells b, c enter the
    statistic. One map-combinable aggregate; the oracle recomputes the
    identical md5 model in DuckDB."""

    d = read(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 500).alias("label"),
        (hashed_linear_score("text") > 0).alias("pred_a"),
        (F.col("n_chars") % 7 < 4).alias("pred_b"),
    )
    return mcnemar_test(d, "label", "pred_a", "pred_b")


@query(oracle="""
            WITH cells AS (
              SELECT lang,
                sum(CASE WHEN (n_chars % 7 < 4) AND n_chars >= 500
                    THEN 1 ELSE 0 END)::BIGINT AS tp,
                sum(CASE WHEN (n_chars % 7 < 4) AND n_chars < 500
                    THEN 1 ELSE 0 END)::BIGINT AS fp,
                sum(CASE WHEN NOT (n_chars % 7 < 4) AND n_chars >= 500
                    THEN 1 ELSE 0 END)::BIGINT AS fn,
                sum(CASE WHEN NOT (n_chars % 7 < 4) AND n_chars < 500
                    THEN 1 ELSE 0 END)::BIGINT AS tn
              FROM documents GROUP BY lang
            )
            SELECT lang, tp, fp, fn, tn,
                   CASE WHEN tp + fp > 0 AND tp + fn > 0
                         AND tn + fp > 0 AND tn + fn > 0 THEN
                     floor((tp * tn - fp * fn)::DOUBLE
                           / (sqrt((tp + fp)::DOUBLE)
                              * sqrt((tp + fn)::DOUBLE)
                              * sqrt((tn + fp)::DOUBLE)
                              * sqrt((tn + fn)::DOUBLE)) * 1e6) / 1e6
                   END AS mcc_q6
            FROM cells
        """)
def _q_mcc(spark, sf_dir):
    """Matthews correlation per language of the n_chars%7 heuristic
    against the length label (functions/evalmetrics.py mcc) — the
    imbalance-honest confusion summary; numerator BIGINT, denominator
    a fixed-order product of four sqrts so corpus-scale margins never
    overflow."""

    d = read(spark, sf_dir, "documents").select(
        "lang",
        (F.col("n_chars") % 7 < 4).alias("pred"),
        (F.col("n_chars") >= 500).cast("long").alias("label"),
    )
    return mcc(d, "pred", "label", ("lang",))


@query(oracle="""
            WITH base AS (
              SELECT CAST(floor((least(n_chars, 2000)::DOUBLE / 2000.0)
                                * 10000.0) AS BIGINT) AS s4,
                     CASE WHEN n_chars >= 500 THEN 1 ELSE 0 END AS y
              FROM documents
            ),
            bins AS (
              SELECT s4, count(*)::BIGINT AS n,
                     sum(y)::BIGINT AS n_pos,
                     sum((s4 - 10000 * y) * (s4 - 10000 * y))::BIGINT
                       AS sse8
              FROM base GROUP BY s4
            ),
            tot AS (
              SELECT count(*)::BIGINT AS nn, sum(y)::BIGINT AS pp
              FROM base
            )
            SELECT s4, n, n_pos, sse8,
                   floor(n::DOUBLE / nn::DOUBLE
                         * (s4::DOUBLE / 1e4
                            - n_pos::DOUBLE / n::DOUBLE)
                         * (s4::DOUBLE / 1e4
                            - n_pos::DOUBLE / n::DOUBLE)
                         * 1e9) / 1e9 AS rel_q9,
                   floor(n::DOUBLE / nn::DOUBLE
                         * (n_pos::DOUBLE / n::DOUBLE
                            - pp::DOUBLE / nn::DOUBLE)
                         * (n_pos::DOUBLE / n::DOUBLE
                            - pp::DOUBLE / nn::DOUBLE)
                         * 1e9) / 1e9 AS res_q9
            FROM bins, tot
        """)
def _q_brier(spark, sf_dir):
    """Murphy decomposition of the Brier score for the length-derived
    pseudo-probability least(n_chars,2000)/2000 against the n_chars >=
    500 label (functions/evalmetrics.py brier_decomposition): per
    distinct 4dp forecast, BIGINT (n, n_pos, sse8) plus fixed-order
    rel/res terms — the calibration-vs-separation reading a corpus
    quality gate needs before thresholding."""

    d = read(spark, sf_dir, "documents").select(
        (
            F.least(F.col("n_chars"), F.lit(2000)).cast("double")
            / F.lit(2000.0)
        ).alias("score"),
        (F.col("n_chars") >= 500).alias("label"),
    )
    return brier_decomposition(d, "score", "label")


@query(oracle="""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            labn AS (SELECT label, count(*)::BIGINT AS labn
                     FROM embeddings GROUP BY label),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank, qlab,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            agg AS (
              SELECT query_id,
                     count(*)::BIGINT AS n_ranked,
                     sum(CASE WHEN rank <= 5 THEN rel ELSE 0 END)::BIGINT
                       AS hits_k,
                     min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
                     max(labn) - 1 AS total_rel
              FROM judged JOIN labn ON judged.qlab = labn.label
              GROUP BY query_id
            )
            SELECT query_id, n_ranked, hits_k, total_rel,
                   floor(hits_k::DOUBLE / 5.0 * 1e6) / 1e6 AS prec_k_q6,
                   CASE WHEN total_rel > 0 THEN
                     floor(hits_k::DOUBLE / total_rel::DOUBLE * 1e6) / 1e6
                   END AS recall_k_q6,
                   floor(coalesce(1.0 / first_rel::DOUBLE, 0.0) * 1e6)
                     / 1e6 AS rr_q6
            FROM agg
        """)
def _q_retrieval(spark, sf_dir):
    """Precision@5 / recall@5 / reciprocal rank per query
    (functions/evalmetrics.py retrieval_metrics) over the same judged
    exact-cosine top-10 as q_ndcg, with the HONEST recall denominator:
    the corpus-wide same-label count minus the query itself, joined on
    as total_rel — all BIGINT aggregates, terminal divisions only."""

    e = read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    lab_counts = lab.groupBy("label").agg(
        F.count("*").cast("long").alias("__labn")
    )
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lab_counts).withColumnRenamed("label", "qlab"),
            "qlab",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
            (F.col("__labn") - 1).alias("total_rel_corpus"),
        )
    )
    return retrieval_metrics(
        judged, ("query_id",), "rank", "rel", k=5,
        total_rel_col="total_rel_corpus",
    )


@query(oracle="""
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     (n_chars % 3)::INTEGER AS label FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     (CAST(floor(n_chars / 7) AS BIGINT) % 3)::INTEGER
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     (CASE WHEN n_chars < 300 THEN 0
                           WHEN n_chars < 900 THEN 1
                           ELSE 2 END)::INTEGER
              FROM documents
            ),
            cell AS (
              SELECT doc_id, label, count(*)::BIGINT AS c
              FROM long GROUP BY doc_id, label
            ),
            items AS (
              SELECT count(*)::BIGINT AS n_items,
                     max(k)::BIGINT AS k,
                     sum(agree)::BIGINT AS agree_num
              FROM (SELECT doc_id, sum(c)::BIGINT AS k,
                           sum(c * (c - 1))::BIGINT AS agree
                    FROM cell GROUP BY doc_id)
            ),
            pooled AS (
              SELECT sum(t * t)::BIGINT AS st2, sum(t)::BIGINT AS t_tot
              FROM (SELECT label, count(*)::BIGINT AS t
                    FROM long GROUP BY label)
            )
            SELECT n_items, k, agree_num,
                   CASE WHEN n_items * k * (k - 1)
                             * (t_tot * t_tot - st2) > 0 AND k > 1 THEN
                     floor((t_tot * t_tot * agree_num
                            - n_items * k * (k - 1) * st2)::DOUBLE
                           / (n_items * k * (k - 1)
                              * (t_tot * t_tot - st2))::DOUBLE
                           * 1e6) / 1e6
                   END AS kappa_q6
            FROM items, pooled
        """)
def _q_fleiss(spark, sf_dir):
    """Fleiss' kappa over three deterministic 3-class document raters
    (functions/evalmetrics.py fleiss_kappa): complete-design identity
    keeps every term BIGINT — T^2*agree vs pooled-total chance — with
    one terminal division; the k-rater agreement gate for an
    LLM-labeling pipeline."""

    return fleiss_kappa(
        _rater_long(spark, sf_dir), "doc_id", "rater", "label"
    )


@query(oracle="""
            WITH long AS (
              SELECT doc_id, 'r1' AS rater,
                     (n_chars % 3)::INTEGER AS label FROM documents
              UNION ALL
              SELECT doc_id, 'r2',
                     (CAST(floor(n_chars / 7) AS BIGINT) % 3)::INTEGER
              FROM documents
              UNION ALL
              SELECT doc_id, 'r3',
                     (CASE WHEN n_chars < 300 THEN 0
                           WHEN n_chars < 900 THEN 1
                           ELSE 2 END)::INTEGER
              FROM documents
            ),
            cell AS (
              SELECT doc_id, label, count(*)::BIGINT AS c
              FROM long GROUP BY doc_id, label
            ),
            items AS (
              SELECT count(*)::BIGINT AS n_items,
                     max(k)::BIGINT AS k,
                     sum(k * (k - 1) - agree)::BIGINT AS disag_num
              FROM (SELECT doc_id, sum(c)::BIGINT AS k,
                           sum(c * (c - 1))::BIGINT AS agree
                    FROM cell GROUP BY doc_id)
            ),
            pooled AS (
              SELECT sum(t * t)::BIGINT AS st2, sum(t)::BIGINT AS t_tot
              FROM (SELECT label, count(*)::BIGINT AS t
                    FROM long GROUP BY label)
            )
            SELECT n_items, k, disag_num,
                   CASE WHEN t_tot * t_tot - st2 > 0 AND k > 1 THEN
                     floor((1.0 - (disag_num * t_tot * (t_tot - 1))::DOUBLE
                           / (n_items * k * (k - 1)
                              * (t_tot * t_tot - st2))::DOUBLE)
                           * 1e6) / 1e6
                   END AS alpha_q6
            FROM items, pooled
        """)
def _q_krippendorff(spark, sf_dir):
    """Krippendorff's alpha (nominal) over the same rater table
    (functions/evalmetrics.py krippendorff_alpha_nominal) — the
    permutation-null (T-1) chance model; disag_num and pooled totals
    BIGINT, one division."""

    return krippendorff_alpha_nominal(
        _rater_long(spark, sf_dir), "doc_id", "rater", "label"
    )


@query(oracle="""
            WITH base AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
            ),
            cnt AS (
              SELECT event_type, v, count(*)::BIGINT AS c
              FROM base GROUP BY event_type, v
            ),
            ranked AS (
              SELECT event_type, v, c,
                     coalesce(sum(c) OVER (
                       PARTITION BY event_type ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cb,
                     sum(c) OVER (PARTITION BY event_type) AS n
              FROM cnt
            ),
            sel AS (
              SELECT event_type,
                     max(n)::BIGINT AS n,
                     max(CAST(floor(((n + 1) * 900 + 999) / 1000)
                              AS BIGINT)) AS rank_target,
                     sum(CASE WHEN cb < floor(((n + 1) * 900 + 999)
                                              / 1000)
                               AND cb + c >= floor(((n + 1) * 900 + 999)
                                                   / 1000)
                         THEN v END)::BIGINT AS qhat_q
              FROM ranked GROUP BY event_type
            )
            SELECT event_type, n, rank_target, qhat_q,
                   qhat_q::DOUBLE / 100.0 AS qhat,
                   (rank_target <= n) AS covered
            FROM sel
        """)
def _q_conformal(spark, sf_dir):
    """Split-conformal 90% threshold of event value per event type
    (functions/evalmetrics.py conformal_threshold): integer target
    rank ceil((n+1)*900/1000) selected by the rank-reach test over the
    distinct-value count table — the finite-sample-valid gate
    calibrator, per stratum."""

    ev = read(spark, sf_dir, "events")
    return conformal_threshold(
        ev, "value", ("event_type",), alpha_permille=100, quantize=2
    )


@query(oracle="""
            WITH base AS (
              SELECT CAST(round(((n_chars % 1000)::DOUBLE / 1000.0)
                                * 10000.0) AS BIGINT) AS conf_q,
                     (CASE WHEN (n_chars % 7 < 4)
                                <> (n_chars >= 500)
                      THEN 1 ELSE 0 END)::BIGINT AS e
              FROM documents
            ),
            cnt AS (
              SELECT conf_q, count(*)::BIGINT AS n_at,
                     sum(e)::BIGINT AS err_at
              FROM base GROUP BY conf_q
            ),
            cum AS (
              SELECT conf_q, n_at, err_at,
                     sum(n_at) OVER (ORDER BY conf_q DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS n_cum,
                     sum(err_at) OVER (ORDER BY conf_q DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)::BIGINT AS err_cum,
                     sum(n_at) OVER ()::BIGINT AS nn
              FROM cnt
            )
            SELECT conf_q, n_at, err_at, n_cum, err_cum,
                   floor(n_cum::DOUBLE / nn::DOUBLE * 1e6) / 1e6
                     AS coverage_q6,
                   floor(err_cum::DOUBLE / n_cum::DOUBLE * 1e6) / 1e6
                     AS risk_q6
            FROM cum
        """)
def _q_risk_coverage(spark, sf_dir):
    """Risk-coverage curve of the n_chars%7 heuristic against the
    length label with a deterministic confidence (n_chars%1000)/1000
    (functions/evalmetrics.py risk_coverage_curve): one descending
    running sum over the distinct-confidence count table — the
    abstention-policy curve."""

    d = read(spark, sf_dir, "documents").select(
        ((F.col("n_chars") % 1000).cast("double") / F.lit(1000.0)).alias(
            "conf"
        ),
        (
            (F.col("n_chars") % 7 < 4) != (F.col("n_chars") >= 500)
        ).cast("long").alias("err"),
    )
    return risk_coverage_curve(d, "conf", "err", quantize=4)


@query(oracle="""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            agg AS (
              SELECT query_id,
                count(*)::BIGINT AS n_ranked,
                sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)::BIGINT
                  AS n_rel_total,
                sum(CASE WHEN rel > 0 AND rank <= 10 THEN 1 ELSE 0
                    END)::BIGINT AS rel_at_k,
                min(CASE WHEN rel > 0 THEN rank END) AS first_rel,
                list([1.0 - (pow(2.0, rel) - 1.0) / 2.0,
                      ((pow(2.0, rel) - 1.0) / 2.0) / rank::DOUBLE]
                     ORDER BY rank) AS terms
              FROM judged GROUP BY query_id
            ),
            f AS (
              SELECT query_id, n_ranked, n_rel_total, rel_at_k,
                first_rel,
                list_reduce(
                  list_prepend([1.0, 0.0], terms),
                  (a, x) -> [a[1] * x[1], a[2] + a[1] * x[2]]
                ) AS acc
              FROM agg
            )
            SELECT query_id, n_ranked, n_rel_total,
              floor(rel_at_k::DOUBLE / 10.0 * 1e6) / 1e6 AS p_at_k_q6,
              CASE WHEN n_rel_total > 0 THEN
                floor(rel_at_k::DOUBLE / n_rel_total::DOUBLE * 1e6)
                  / 1e6
              END AS recall_at_k_q6,
              CASE WHEN first_rel IS NOT NULL THEN
                floor(1.0 / first_rel::DOUBLE * 1e6) / 1e6
              END AS mrr_q6,
              floor(acc[2] * 1e6) / 1e6 AS err_q6
            FROM f
        """)
def _q_rank_metrics(spark, sf_dir):
    """Retrieval metric card beyond q_ndcg (evalmetrics.
    rank_metrics_at_k): precision@10, recall@10, MRR and cascade-model
    ERR for the same exact-cosine top-10 / label-match relevance
    construction. ERR's prefix product folds over the rank-sorted
    list — order-pinned, never a windowed float product."""

    e = read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return evalmetrics.rank_metrics_at_k(
        judged, "rel", "rank", ("query_id",), k=10, gmax=1
    )


@query(oracle="""
            WITH base AS (
              SELECT
                CAST(round(value * 100, 0) AS BIGINT) AS r,
                CAST(round((user_id % 50)::DOUBLE * 100, 0) AS BIGINT)
                  AS q,
                CASE WHEN event_type =
                       (CASE WHEN user_id % 2 = 0 THEN 'purchase'
                             ELSE 'click' END)
                     THEN 1 ELSE 0 END AS m,
                25200 // ((CAST(('0x' || substring(
                    md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 9) + 1) AS w
              FROM events WHERE value IS NOT NULL
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(m)::BIGINT AS n_match,
                CAST(sum(CAST(q AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS sq,
                CAST(sum(CAST(2520 * q + m * w * (r - q)
                              AS DECIMAL(38,0))) AS DECIMAL(38,0))
                  AS s
              FROM base
            )
            SELECT n, n_match,
              floor(sq::DOUBLE / n::DOUBLE / 100.0 * 1e6) / 1e6
                AS dm_q6,
              floor(s::DOUBLE / (2520.0 * n::DOUBLE) / 100.0 * 1e6)
                / 1e6 AS dr_q6
            FROM agg
        """)
def _q_doubly_robust(spark, sf_dir):
    """Doubly-robust off-policy estimate (evalmetrics.
    doubly_robust_value) for q_off_policy's routing policy, with a
    deterministic outcome model qhat = user_id % 50 — consistent if
    either the propensities or the model is right. 2520-unit integer
    accumulation, DECIMAL(38,0) sums, terminal division only."""

    ev = read(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"),
        F.when(F.col("user_id") % 2 == 0, F.lit("purchase"))
        .otherwise(F.lit("click"))
        .alias("target"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 9
            + 1
        ).alias("k"),
        "value",
        (F.col("user_id") % 50).cast("double").alias("qhat"),
    )
    return doubly_robust_value(
        ev, "action", "target", "k", "value", "qhat", quantize=2
    )


@query(oracle="""
            WITH sc AS (
              SELECT source,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8))
                              AS BIGINT) % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT source, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT source,
                     CAST(round(score * 10000, 0) AS BIGINT) AS s, y
              FROM sc
            ),
            per AS (
              SELECT source, s, sum(y)::BIGINT AS p,
                     sum(1 - y)::BIGINT AS q
              FROM base GROUP BY source, s
            ),
            cum AS (
              SELECT source, s,
                sum(p) OVER wd AS tp,
                sum(q) OVER wd AS fp,
                sum(p) OVER (PARTITION BY source) AS pos,
                sum(q) OVER (PARTITION BY source) AS neg
              FROM per
              WINDOW wd AS (PARTITION BY source ORDER BY s DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            ),
            cand AS (
              SELECT source, s, tp, fp, pos - tp AS fn,
                neg - fp AS tn, pos, neg,
                CAST(floor((tp::DOUBLE / pos::DOUBLE
                            - fp::DOUBLE / neg::DOUBLE) * 1e12)
                     AS BIGINT) AS jq
              FROM cum
            ),
            best AS (
              SELECT source, s, tp, fp, fn, tn, pos, neg, jq,
                row_number() OVER (PARTITION BY source
                  ORDER BY jq DESC, s DESC) AS rn
              FROM cand
            )
            SELECT source, s::DOUBLE / 10000.0 AS threshold,
              tp, fp, fn, tn,
              floor(jq::DOUBLE / 1e6) / 1e6 AS j_q6,
              floor(tp::DOUBLE / pos::DOUBLE * 1e6) / 1e6 AS tpr_q6,
              floor(fp::DOUBLE / neg::DOUBLE * 1e6) / 1e6 AS fpr_q6
            FROM best WHERE rn = 1
        """)
def _q_youden(spark, sf_dir):
    """Youden-J operating point of the hashed linear classifier per
    source (functions/evalmetrics.py youden_j_threshold) — the
    prevalence-free cut next to q_best_f1's F1 cut on the SAME scored
    input, so the imbalance gap between the two thresholds is
    readable from one artifact. Integer cumulative (tp,fp,fn,tn) over
    the distinct-score table; q12 argmax, highest-threshold ties."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return youden_j_threshold(
        scored, "score", "y", quantize=4, group_cols=("source",)
    )


@query(oracle="""
            WITH sc AS (
              SELECT
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                (CASE WHEN len(tok) > 0 THEN
                   list_sum(list_transform(tok, t ->
                     CAST(concat('0x', substr(md5(t), 1, 8))
                          AS BIGINT) % 2001 - 1000
                   ))::DOUBLE / (len(tok) * 1000.0)
                 ELSE 0.0 END) AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT y,
                CAST(round((score + 1.0) / 2.0 * 10000, 0) AS BIGINT)
                  AS k
              FROM sc
            ),
            agg AS (
              SELECT count(*)::BIGINT AS n,
                sum(CAST(10000 * y - k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))) AS num,
                sum(CAST(k AS DECIMAL(38,0))
                    * CAST(10000 - k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))
                    * CAST(10000 - 2 * k AS DECIMAL(38,0))) AS den
              FROM base
            )
            SELECT n,
              CASE WHEN den::DOUBLE > 0 THEN
                floor(num::DOUBLE / sqrt(den::DOUBLE) * 1e6) / 1e6
              END AS z_q6
            FROM agg
        """)
def _q_spiegelhalter(spark, sf_dir):
    """Spiegelhalter's binning-free calibration Z on the hashed linear
    score mapped to [0,1] vs the lang='en' label
    (functions/evalmetrics.py spiegelhalter_z) — the significance
    companion to q_calibration / q_ece: the S-grid normalizers cancel,
    so Z is a ratio of two DECIMAL(38,0) integer sums."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        (
            (curate.hashed_linear_score("text") + F.lit(1.0))
            / F.lit(2.0)
        ).alias("prob"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return spiegelhalter_z(scored, "prob", "y", quantize=4)


@query(oracle="""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                              label AS qlab
                       FROM embeddings WHERE vec_id < 5),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
                         label AS nlab
                  FROM embeddings),
            scored AS (
              SELECT query_id, neighbor_id, qlab, nlab,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM c, q WHERE neighbor_id <> query_id
            ),
            judged AS (
              SELECT query_id, rank,
                     CASE WHEN qlab = nlab THEN 1 ELSE 0 END AS rel
              FROM (
                SELECT query_id, qlab, nlab,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos_sim DESC,
                                                   neighbor_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 10
            ),
            wide AS (
              SELECT query_id, rank, rel,
                count(*) OVER (PARTITION BY query_id)::BIGINT AS d,
                coalesce(rank = row_number() OVER (
                  PARTITION BY query_id ORDER BY rank ASC NULLS FIRST),
                  false) AS at_pos
              FROM judged
            ),
            agg AS (
              SELECT query_id, max(d)::BIGINT AS n_ranked,
                sum(CASE WHEN at_pos AND d <= 22 THEN rel
                    * CAST(round(pow(4, (rank - 1)::DOUBLE), 0)
                           AS BIGINT)
                    * CAST(round(pow(5, (d - rank)::DOUBLE), 0)
                           AS BIGINT) END)::BIGINT AS isum,
                bool_and(at_pos) AND max(d) <= 22 AS ok
              FROM wide GROUP BY query_id
            )
            SELECT query_id, n_ranked,
              CASE WHEN ok THEN
                floor((1.0 * isum::DOUBLE)
                      / round(pow(5, n_ranked::DOUBLE), 0) * 1e6) / 1e6
              END AS rbp_q6,
              CASE WHEN ok THEN
                floor(round(pow(4, n_ranked::DOUBLE), 0)
                      / round(pow(5, n_ranked::DOUBLE), 0) * 1e6) / 1e6
              END AS rbp_residual_q6
            FROM agg
            ORDER BY query_id
        """)
def _q_rbp(spark, sf_dir):
    """Rank-biased precision with persistence 0.8 over the same
    exact-cosine top-10 / label-match judged table as q_rank_metrics
    (functions/evalmetrics.py rank_biased_precision) — the
    user-model-weighted retrieval read WITH its residual, so shallow
    judgment pools are visible per query."""

    e = read(spark, sf_dir, "embeddings")
    ranked = similarity.cosine_topk(
        e, e.filter(F.col("vec_id") < 5), k=10
    )
    lab = e.select("vec_id", "label")
    judged = (
        ranked.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlab"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlab"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("nlab")).cast("int").alias("rel"),
        )
    )
    return rank_biased_precision(
        judged, "rel", "rank", ("query_id",), p_num=4, p_den=5
    ).orderBy("query_id")


@query(oracle="""
            WITH sc AS (
              SELECT
                CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                (CASE WHEN len(tok) > 0 THEN
                   list_sum(list_transform(tok, t ->
                     CAST(concat('0x', substr(md5(t), 1, 8))
                          AS BIGINT) % 2001 - 1000
                   ))::DOUBLE / (len(tok) * 1000.0)
                 ELSE 0.0 END) AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            base AS (
              SELECT y,
                CAST(round((score + 1.0) / 2.0 * 10000, 0) AS BIGINT)
                  AS k
              FROM sc
            ),
            binned AS (
              SELECT least(9, CAST(floor(k::DOUBLE / 10000.0 * 10.0)
                                   AS INT)) AS b, y, k
              FROM base
            ),
            bins AS (
              SELECT b, count(*)::BIGINT AS n, sum(y)::BIGINT AS o1,
                     sum(k)::BIGINT AS sk
              FROM binned GROUP BY b
            ),
            terms AS (
              SELECT b, n, o1,
                sk::DOUBLE / 10000.0 AS e1,
                n::DOUBLE - sk::DOUBLE / 10000.0 AS e0
              FROM bins
            ),
            stepped AS (
              SELECT
                sum(n) OVER ()::BIGINT AS n,
                sum(CASE WHEN e1 > 0 AND e0 > 0 THEN 1 ELSE 0 END)
                  OVER ()::BIGINT AS n_bins_used,
                sum(CASE WHEN e1 > 0 AND e0 > 0 THEN
                      (o1::DOUBLE - e1) * (o1::DOUBLE - e1) / e1
                      + ((n - o1)::DOUBLE - e0)
                        * ((n - o1)::DOUBLE - e0) / e0
                    END)
                  OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS chi2,
                row_number() OVER (ORDER BY b) AS rn,
                count(*) OVER () AS nb
              FROM terms
            )
            SELECT n, n_bins_used,
              CASE WHEN n_bins_used >= 3 THEN
                floor(chi2 * 1e6) / 1e6 END AS chi2_q6,
              CASE WHEN n_bins_used >= 3 THEN n_bins_used - 2
              END AS dof
            FROM stepped WHERE rn = nb
        """)
def _q_hosmer(spark, sf_dir):
    """Hosmer-Lemeshow binned calibration chi2 on the same [0,1]
    score as q_spiegelhalter (functions/evalmetrics.py
    hosmer_lemeshow) — the grouped significance read completing the
    calibration trio; equal-width bins so the edges are pure
    arithmetic, expected sums exact on the probability grid."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        (
            (curate.hashed_linear_score("text") + F.lit(1.0))
            / F.lit(2.0)
        ).alias("prob"),
        (F.col("lang") == "en").cast("long").alias("y"),
    )
    return hosmer_lemeshow(scored, "prob", "y", n_bins=10, quantize=4)


@query(oracle="""
            WITH g AS (
              SELECT
                CASE WHEN n_chars < 200 THEN 1
                     WHEN n_chars < 500 THEN 2
                     WHEN n_chars < 1000 THEN 3 ELSE 4 END AS a,
                CASE WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 30 THEN 1
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 80 THEN 2
                     WHEN len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0)) < 160 THEN 3
                     ELSE 4 END AS b
              FROM documents
            ),
            cells AS (
              SELECT a, b, count(*)::BIGINT AS o FROM g GROUP BY a, b
            ),
            obs AS (
              SELECT sum(o)::BIGINT AS n,
                sum(CAST(abs(a - b) AS DECIMAL(38,0))
                    * CAST(o AS DECIMAL(38,0))) AS wo_lin,
                sum(CAST(a - b AS DECIMAL(38,0))
                    * CAST(a - b AS DECIMAL(38,0))
                    * CAST(o AS DECIMAL(38,0))) AS wo_quad
              FROM cells
            ),
            ma AS (SELECT a, sum(o)::BIGINT AS r FROM cells GROUP BY a),
            mb AS (SELECT b, sum(o)::BIGINT AS c FROM cells GROUP BY b),
            chance AS (
              SELECT
                sum(CAST(abs(ma.a - mb.b) AS DECIMAL(38,0))
                    * CAST(r AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS we_lin,
                sum(CAST(ma.a - mb.b AS DECIMAL(38,0))
                    * CAST(ma.a - mb.b AS DECIMAL(38,0))
                    * CAST(r AS DECIMAL(38,0))
                    * CAST(c AS DECIMAL(38,0))) AS we_quad
              FROM ma CROSS JOIN mb
            ),
            kc AS (
              SELECT count(DISTINCT k)::BIGINT AS k_cats
              FROM (SELECT a AS k FROM g UNION ALL SELECT b FROM g)
            )
            SELECT n, k_cats,
              CASE WHEN we_lin::DOUBLE > 0 THEN
                floor((1.0 - n::DOUBLE * wo_lin::DOUBLE
                       / we_lin::DOUBLE) * 1e6) / 1e6
              END AS kappa_lin_q6,
              CASE WHEN we_quad::DOUBLE > 0 THEN
                floor((1.0 - n::DOUBLE * wo_quad::DOUBLE
                       / we_quad::DOUBLE) * 1e6) / 1e6
              END AS kappa_quad_q6
            FROM obs, chance, kc
        """)
def _q_weighted_kappa(spark, sf_dir):
    """Linear + quadratic weighted Cohen's kappa between document
    length band and token band (functions/evalmetrics.py
    weighted_kappa) — ordinal AGREEMENT between two graded bucketings.
    DECIMAL(38,0) weighted sums off the k x k cell table and the
    margin cross join; one terminal division per kappa."""

    d = read(spark, sf_dir, "documents")
    toks = F.size(
        tokens(F.col("text"))
    )
    band = (
        lambda c, b1, b2, b3: F.when(c < b1, 1)
        .when(c < b2, 2)
        .when(c < b3, 3)
        .otherwise(4)
    )
    g = d.select(
        band(F.col("n_chars"), 200, 500, 1000).alias("xb"),
        band(toks, 30, 80, 160).alias("yb"),
    )
    return weighted_kappa(g, "xb", "yb")


@query(oracle="""
            WITH sc AS (
              SELECT doc_id,
                     CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT doc_id, lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            rk AS (
              SELECT y, ntile(10) OVER (ORDER BY score DESC,
                                        doc_id ASC) AS bucket
              FROM sc
            ),
            per AS (
              SELECT bucket, count(*)::BIGINT AS n,
                     sum(y)::BIGINT AS n_pos
              FROM rk GROUP BY bucket
            ),
            cum AS (
              SELECT bucket, n, n_pos,
                sum(n) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW)::BIGINT AS cn,
                sum(n_pos) OVER (ORDER BY bucket ROWS BETWEEN
                    UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cp,
                sum(n) OVER ()::BIGINT AS nt,
                sum(n_pos) OVER ()::BIGINT AS pt
              FROM per
            )
            SELECT bucket, n, n_pos,
              floor(n_pos::DOUBLE / n::DOUBLE * 1e6) / 1e6 AS rate_q6,
              CASE WHEN pt > 0 THEN
                floor(n_pos::DOUBLE / n::DOUBLE
                      / (pt::DOUBLE / nt::DOUBLE) * 1e6) / 1e6
              END AS lift_q6,
              CASE WHEN pt > 0 THEN
                floor(cp::DOUBLE / pt::DOUBLE * 1e6) / 1e6
              END AS cum_gain_q6,
              CASE WHEN pt > 0 THEN
                floor(cp::DOUBLE / cn::DOUBLE
                      / (pt::DOUBLE / nt::DOUBLE) * 1e6) / 1e6
              END AS cum_lift_q6
            FROM cum
        """)
def _q_lift_table(spark, sf_dir):
    """Decile lift/gains table for the hashed linear classifier
    against the lang='en' label (evalmetrics.lift_table) — the
    review-queue-depth read next to q_classifier_auc. (score desc,
    doc_id) tie-break makes ntile cross-engine exact; every number a
    rational of BIGINT counts."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return evalmetrics.lift_table(
        scored, "score", "y", "doc_id", n_buckets=10
    )


@query(oracle="""
            WITH sc AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
                     floor((CASE WHEN len(tok) > 0 THEN
                       list_sum(list_transform(tok, t ->
                         CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                            % 2001 - 1000
                       ))::DOUBLE / (len(tok) * 1000.0)
                     ELSE 0.0 END) * 10000) / 10000 AS score
              FROM (
                SELECT lang,
                       list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         t -> length(t) > 0
                       ) AS tok
                FROM documents
              )
            ),
            agg AS (
              SELECT
                sum(CASE WHEN y = 1 AND score > 0 THEN 1 ELSE 0
                    END)::BIGINT AS tp,
                sum(CASE WHEN y = 1 AND NOT (score > 0) THEN 1 ELSE 0
                    END)::BIGINT AS fn,
                sum(CASE WHEN y = 0 AND score > 0 THEN 1 ELSE 0
                    END)::BIGINT AS fp,
                sum(CASE WHEN y = 0 AND NOT (score > 0) THEN 1 ELSE 0
                    END)::BIGINT AS tn
              FROM sc
            ),
            rows_ AS (
              SELECT tp, fn, fp, tn, unnest([1, 5, 10, 50]) AS prev_pct
              FROM agg
            ),
            m AS (
              SELECT prev_pct, tp, fn, fp, tn,
                tp::DOUBLE / (tp + fn)::DOUBLE AS se,
                tn::DOUBLE / (tn + fp)::DOUBLE AS sp,
                prev_pct::DOUBLE / 100.0 AS p
              FROM rows_
            )
            SELECT prev_pct,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(se * 1e6) / 1e6 END AS se_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(sp * 1e6) / 1e6 END AS sp_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(se * p / (se * p + (1.0 - sp) * (1.0 - p))
                      * 1e6) / 1e6
              END AS ppv_q6,
              CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                floor(sp * (1.0 - p)
                      / (sp * (1.0 - p) + (1.0 - se) * p) * 1e6) / 1e6
              END AS npv_q6
            FROM m
        """)
def _q_ppv_card(spark, sf_dir):
    """Bayes-corrected PPV/NPV of the threshold-0 classifier at
    design prevalences 1/5/10/50% (evalmetrics.
    ppv_npv_at_prevalence) — the base-rate reality check that stops a
    '99% accurate' detector flooding a 0.1%-prevalence corpus with
    false alerts. One confusion aggregate; per-prevalence rationals."""

    d = read(spark, sf_dir, "documents")
    scored = d.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        (
            F.floor(curate.hashed_linear_score("text") * F.lit(10000.0))
            / F.lit(10000.0)
        ).alias("score"),
    )
    return evalmetrics.ppv_npv_at_prevalence(
        scored, F.col("score") > 0, "y", prevalences=(1, 5, 10, 50)
    )
