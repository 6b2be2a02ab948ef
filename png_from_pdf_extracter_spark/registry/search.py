"""Driver queries over ``functions/search.py`` (BM25 retrieval and query
expansion)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import search, similarity
from png_from_pdf_extracter_spark.functions.search import ql_topk, rbo_overlap
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


# CTE chain shared by q_prf_expand / q_prf_rerank: first-pass BM25
# top-10, feedback term counts, corpus df, expansion ranking —
# mirrors search.prf_expand exactly (uniform-weight RM1)
_PRF_CTES = """
        d AS (
          SELECT doc_id,
                 list_filter(
                   regexp_split_to_array(lower(trim(text)), '\\s+'),
                   x -> length(x) > 0
                 ) AS t
          FROM documents
        ),
        base AS (SELECT doc_id, len(t) AS dl, t FROM d),
        scalars AS (
          SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
        ),
        pairs AS (
          SELECT doc_id, dl, term, count(*) AS tf FROM (
            SELECT doc_id, dl, unnest(t) AS term FROM base
          ) WHERE term IN ('vector', 'stream', 'merge')
          GROUP BY doc_id, dl, term
        ),
        dft AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM pairs GROUP BY term
        ),
        scored AS (
          SELECT doc_id,
                 round(sum(
                   ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                 ), 4) AS score
          FROM pairs JOIN dft USING (term), scalars s
          GROUP BY doc_id
        ),
        top AS (
          SELECT doc_id FROM (
            SELECT doc_id, row_number() OVER (
              ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
          ) WHERE rank <= 10
        ),
        fbt AS (
          SELECT term, count(*)::BIGINT AS fb_tf FROM (
            SELECT unnest(t) AS term FROM base JOIN top USING (doc_id)
          ) WHERE term NOT IN ('vector', 'stream', 'merge')
            AND length(term) > 2
          GROUP BY term
        ),
        cdf AS (
          SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM (
            SELECT doc_id, unnest(t) AS term FROM base
          ) JOIN (SELECT term FROM fbt) USING (term) GROUP BY term
        ),
        nn AS (SELECT count(*) AS n_docs FROM base),
        expansion AS (
          SELECT term, fb_tf, df, rank FROM (
            SELECT f.term, f.fb_tf, c.df,
                   row_number() OVER (
                     ORDER BY f.fb_tf DESC, f.term ASC) AS rank
            FROM fbt f JOIN cdf c USING (term), nn
            WHERE c.df::DOUBLE <= 1.0 * n_docs::DOUBLE
          ) WHERE rank <= 10
        )
    """

_PRF_EXPAND_SQL = (
    "WITH " + _PRF_CTES
    + ", fin AS (SELECT term, fb_tf, df, rank::INTEGER AS rank"
    + " FROM expansion) SELECT * FROM fin"
)

_PRF_RERANK_SQL = (
    "WITH " + _PRF_CTES
    + """,
        qterms AS (
          SELECT DISTINCT term FROM (
            SELECT term FROM expansion
            UNION ALL
            SELECT unnest(['vector', 'stream', 'merge']) AS term
          )
        ),
        pairs2 AS (
          SELECT doc_id, dl, term, count(*) AS tf FROM (
            SELECT doc_id, dl, unnest(t) AS term FROM base
          ) JOIN qterms USING (term)
          GROUP BY doc_id, dl, term
        ),
        dft2 AS (
          SELECT term, count(DISTINCT doc_id) AS df
          FROM pairs2 GROUP BY term
        ),
        scored2 AS (
          SELECT doc_id,
                 count(*)::INTEGER AS n_terms_hit,
                 round(sum(
                   ln(1 + (s.n_docs - dft2.df + 0.5) / (dft2.df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                 ), 4) AS score
          FROM pairs2 JOIN dft2 USING (term), scalars s
          GROUP BY doc_id
        )
        SELECT doc_id, n_terms_hit, score, rank::INTEGER AS rank FROM (
          SELECT doc_id, n_terms_hit, score,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC)
                   AS rank
          FROM scored2
        ) WHERE rank <= 20
    """
)


@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     count(*)::INTEGER AS n_terms_hit,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            )
            SELECT doc_id, n_terms_hit, score, rank::INTEGER AS rank FROM (
              SELECT doc_id, n_terms_hit, score,
                     row_number() OVER (ORDER BY score DESC, doc_id ASC)
                       AS rank
              FROM scored
            ) WHERE rank <= 20
        """)
def _q_bm25(spark, sf_dir):
    """BM25 top-20 docs for a 3-term query (search.bm25_topk, Lucene
    idf, k1=1.2 b=0.75): query-term filter BEFORE the tf shuffle, scalar
    (N, avgdl) broadcast, TakeOrderedAndProject top-k — no global window
    over the match set. Rounded-score ranking, doc-id tie-break."""
    return search.bm25_topk(
        read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        top_k=20,
    )


@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            ),
            lex AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score DESC, doc_id ASC)
                         AS rank
                FROM scored
              ) WHERE rank <= 20
            ),
            q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
            cos AS (
              SELECT neighbor_id,
                round(
                  list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum')
                  / (sqrt(list_aggregate(list_transform(range(1, len(qvec) + 1),
                      i -> qvec[i]::DOUBLE * qvec[i]::DOUBLE), 'sum'))
                   * sqrt(list_aggregate(list_transform(range(1, len(cvec) + 1),
                      i -> cvec[i]::DOUBLE * cvec[i]::DOUBLE), 'sum'))), 6)
                AS cos_sim
              FROM (SELECT vec_id AS neighbor_id, embedding AS cvec
                    FROM embeddings WHERE vec_id <> 0), q
            ),
            dense AS (
              SELECT neighbor_id AS doc_id, rank FROM (
                SELECT neighbor_id,
                       row_number() OVER (ORDER BY cos_sim DESC,
                                          neighbor_id ASC) AS rank
                FROM cos
              ) WHERE rank <= 20
            ),
            fused AS (
              SELECT coalesce(lex.doc_id, dense.doc_id) AS id,
                     lex.rank AS rank_a,
                     dense.rank AS rank_b,
                     floor((
                       (CASE WHEN lex.rank IS NOT NULL
                             THEN 1.0 / (60.0 + lex.rank) ELSE 0.0 END)
                       + (CASE WHEN dense.rank IS NOT NULL
                               THEN 1.0 / (60.0 + dense.rank) ELSE 0.0 END)
                     ) * 1e9) / 1e9 AS rrf_q
              FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
            )
            SELECT id, rank_a::INTEGER AS rank_a, rank_b::INTEGER AS rank_b,
                   rrf_q,
                   row_number() OVER (ORDER BY rrf_q DESC, id ASC)::INTEGER
                     AS fused_rank
            FROM fused
        """)
def _q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (search.rrf_fuse, k=60)
    of the BM25 top-20 lexical ranking (same 3-term query as q_bm25)
    with the exact cosine top-20 dense ranking for query vector 0
    (vec_id joins doc_id — the synthetic tables share the id space).
    The fused window is bounded by the two candidate lists."""
    docs = read(spark, sf_dir, "documents")
    emb = read(spark, sf_dir, "embeddings")
    lex = search.bm25_topk(
        docs, ["vector", "stream", "merge"], top_k=20
    ).select("doc_id", "rank")
    dense = (
        similarity.cosine_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=20
        )
        .select(F.col("neighbor_id").alias("doc_id"), "rank")
    )
    return search.rrf_fuse(lex, dense, k=60)


@query(oracle="""
            WITH d AS (
              SELECT doc_id, n_chars,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, n_chars, len(t) AS dl, t FROM d),
            scalars AS (
              SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl
              FROM base
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*) AS tf FROM (
                SELECT doc_id, dl, unnest(t) AS term FROM base
              ) WHERE term IN ('vector', 'stream', 'merge')
              GROUP BY doc_id, dl, term
            ),
            dft AS (
              SELECT term, count(DISTINCT doc_id) AS df
              FROM pairs GROUP BY term
            ),
            scored AS (
              SELECT doc_id,
                     round(sum(
                       ln(1 + (s.n_docs - dft.df + 0.5) / (dft.df + 0.5))
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * dl / s.avgdl))
                     ), 4) AS score
              FROM pairs JOIN dft USING (term), scalars s
              GROUP BY doc_id
            ),
            ra AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY score DESC, doc_id ASC) AS rank
                FROM scored
              ) WHERE rank <= 20
            ),
            rb AS (
              SELECT doc_id, rank FROM (
                SELECT doc_id, row_number() OVER (
                  ORDER BY n_chars DESC, doc_id ASC) AS rank
                FROM base
              ) WHERE rank <= 20
            ),
            m AS (
              SELECT greatest(ra.rank, rb.rank) AS mm
              FROM ra JOIN rb USING (doc_id)
            ),
            mc AS (SELECT mm, count(*)::BIGINT AS c FROM m GROUP BY mm),
            depths AS (SELECT dd FROM generate_series(1, 20) g(dd)),
            j AS (
              SELECT dd, coalesce(c, 0) AS c
              FROM depths LEFT JOIN mc ON dd = mm
            ),
            cum AS (
              SELECT dd,
                     sum(c) OVER (ORDER BY dd ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS x,
                     sum(c) OVER () AS ncommon
              FROM j
            ),
            stepped AS (
              SELECT sum(pow(0.9, (dd - 1)::DOUBLE) * x::DOUBLE
                         / dd::DOUBLE) OVER (
                       ORDER BY dd ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS s,
                     x, ncommon,
                     row_number() OVER (ORDER BY dd) AS rn
              FROM cum
            )
            SELECT 20 AS k, ncommon::BIGINT AS n_common,
                   x::BIGINT AS overlap_k,
                   floor(0.09999999999999998 * s * 1e6) / 1e6 AS rbo_q6
            FROM stepped WHERE rn = 20
        """)
def _q_rbo(spark, sf_dir):
    """Rank-biased overlap between the BM25 top-20 (q_bm25's query)
    and the longest-documents top-20 (search.rbo_overlap): does
    lexical relevance agree with sheer length, weighted toward the
    top ranks? One id join + one k-row geometric window; every count
    integer."""

    d = read(spark, sf_dir, "documents")
    ra = search.bm25_topk(
        d, ["vector", "stream", "merge"], top_k=20
    ).select("doc_id", "rank")
    w = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    rb = (
        d.select("doc_id", "n_chars")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    return rbo_overlap(ra, rb, p=0.9, k=20)


@query(oracle=_PRF_EXPAND_SQL)
def _q_prf_expand(spark, sf_dir):
    """Pseudo-relevance-feedback query expansion (search.prf_expand,
    RM1-uniform): BM25 top-10 for q_bm25's 3-term query, integer
    feedback-tf ranking of their non-query terms with a corpus-df
    stopword ceiling. All statistics integer => value-checkable; the
    candidate-term window is bounded by the 10 feedback docs. The
    ceiling is registered INERT (1.0): the synthetic corpus draws from
    a 31-word vocabulary with uniform df ~0.77, so any real ceiling
    empties the candidate set — the parameter's filtering behavior is
    pinned in tests/test_search.py instead."""
    return search.prf_expand(
        read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        fb_docs=10,
        n_expansion=10,
        max_df_frac=1.0,
    )


@query(oracle=_PRF_RERANK_SQL)
def _q_prf_rerank(spark, sf_dir):
    """The full PRF loop (search.prf_rerank): expansion terms feed a
    SECOND BM25 pass through a broadcast term join — retrieval,
    expansion, re-ranking as ONE lazy plan, no driver collect of the
    term set. Top-20 of the expanded query."""
    return search.prf_rerank(
        read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        fb_docs=10,
        n_expansion=10,
        max_df_frac=1.0,
        top_k=20,
    )


@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            base AS (SELECT doc_id, len(t) AS dl, t FROM d),
            totals AS (SELECT sum(dl)::BIGINT AS c FROM base),
            tok AS (
              SELECT doc_id, dl, unnest(t) AS term FROM base
            ),
            cf AS (
              SELECT term, count(*)::BIGINT AS cf FROM tok
              WHERE term IN ('merge', 'stream', 'vector')
              GROUP BY term
            ),
            model AS (
              SELECT term, 2000.0 * (cf::DOUBLE / c::DOUBLE) AS mp
              FROM cf, totals WHERE cf > 0
            ),
            qstats AS (
              SELECT count(*)::BIGINT AS nq,
                list_reduce(
                  list_prepend(0.0, list(ln(mp) ORDER BY term)),
                  (a, x) -> a + x) AS qconst
              FROM model
            ),
            pairs AS (
              SELECT doc_id, dl, term, count(*)::BIGINT AS tf
              FROM tok WHERE term IN ('merge', 'stream', 'vector')
              GROUP BY doc_id, dl, term
            ),
            hits AS (
              SELECT doc_id, dl, count(*)::INTEGER AS n_terms_hit,
                list_reduce(
                  list_prepend(0.0,
                    list(ln(1.0 + tf::DOUBLE / mp) ORDER BY term)),
                  (a, x) -> a + x) AS hitsum
              FROM pairs JOIN model USING (term)
              GROUP BY doc_id, dl
            ),
            scored AS (
              SELECT doc_id, n_terms_hit, dl,
                qconst - nq::DOUBLE * ln(dl::DOUBLE + 2000.0)
                  + hitsum AS score
              FROM hits, qstats
            ),
            ranked AS (
              SELECT doc_id, n_terms_hit, dl, score,
                row_number() OVER (ORDER BY score DESC, doc_id ASC)
                  AS rank
              FROM scored
            )
            SELECT doc_id, n_terms_hit, dl,
              floor(score * 1e6) / 1e6 AS score_q6, rank
            FROM ranked WHERE rank <= 10
        """)
def _q_ql_dirichlet(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood top-10 (functions/search.py
    ql_topk) for the q_bm25 term set — the language-modeling ranker
    next to BM25's tf-idf one. Postings-only decomposition (absent
    terms cost no rows); qconst and per-doc hit sums fold over
    term-sorted lists, order-pinned."""

    return ql_topk(
        read(spark, sf_dir, "documents"),
        ["vector", "stream", "merge"],
        mu=2000.0,
        top_k=10,
    )
