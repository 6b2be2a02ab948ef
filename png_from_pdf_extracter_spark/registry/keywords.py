"""Driver queries over ``functions/keywords.py`` (keyword matching)."""

from png_from_pdf_extracter_spark.functions.keywords import (
    burrows_delta,
    gries_dp,
    juilland_dispersion,
    keyword_profile,
    rake_keyphrases,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


_KEYWORDS = (
    "spark",
    "table",
    "hash join",
    "merge",
    "row scan",
    "sort",
    "window",
    "batch",
    "zzzz missing",
)

# SQL VALUES list derived from _KEYWORDS so the oracle dictionary stays in
# lockstep with the Spark-side automaton (single-quote-free keywords only)
_KW_VALUES_SQL = ", ".join(f"('{k}')" for k in _KEYWORDS)


@query(oracle="""
            WITH d AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            pos AS (
              SELECT doc_id, p, t[p] AS w,
                     CASE WHEN t[p] IN
                       ('a', 'the', 'of', 'and', 'to', 'in')
                     THEN 1 ELSE 0 END AS stop
              FROM d, generate_series(1, 512) g(p)
              WHERE p <= len(t)
            ),
            runs AS (
              SELECT doc_id, p, w, stop,
                     sum(stop) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
              FROM pos
            ),
            ph AS (
              SELECT list(w ORDER BY p) AS ws
              FROM runs WHERE stop = 0 GROUP BY doc_id, run
            ),
            ph2 AS (
              SELECT array_to_string(ws, ' ') AS phrase, ws,
                     len(ws)::INTEGER AS n_words
              FROM ph WHERE len(ws) BETWEEN 1 AND 4
            ),
            words AS (
              SELECT word,
                     CAST(floor(sum(n_words)::DOUBLE / count(*)::DOUBLE
                          * 1e6) AS BIGINT) AS wscore
              FROM (SELECT unnest(ws) AS word, n_words FROM ph2)
              GROUP BY word
            ),
            scored AS (
              SELECT phrase, n_words, count(*)::BIGINT AS nrows,
                     sum(wscore)::BIGINT AS total
              FROM (
                SELECT phrase, n_words, unnest(ws) AS word FROM ph2
              ) JOIN words USING (word)
              GROUP BY phrase, n_words
            ),
            fin AS (
              SELECT phrase, n_words,
                     CAST(nrows::DOUBLE / n_words::DOUBLE AS BIGINT)
                       AS occurrences,
                     CAST(total::DOUBLE
                          / CAST(nrows::DOUBLE / n_words::DOUBLE
                                 AS BIGINT)::DOUBLE AS BIGINT)
                       AS score_i
              FROM scored
            )
            SELECT phrase, n_words, occurrences,
                   score_i::DOUBLE / 1e6 AS score_q6,
                   rank::INTEGER AS rank
            FROM (
              SELECT phrase, n_words, occurrences, score_i,
                     row_number() OVER (ORDER BY score_i DESC,
                       occurrences DESC, phrase ASC) AS rank
              FROM fin
            ) WHERE rank <= 15
        """)
def _q_rake(spark, sf_dir):
    """RAKE keyphrase extraction (functions/keywords.py
    rake_keyphrases): top-15 stopword-delimited phrases by summed
    deg/freq word scores — integer-quantized per-word ratios make
    every phrase score an exact integer sum. Gaps-and-islands
    segmentation is a per-doc window; all other stages are
    map-combinable aggregates."""

    return rake_keyphrases(read(spark, sf_dir, "documents"), top_k=15)


@query(oracle=f"""
            WITH kw(k) AS (VALUES {_KW_VALUES_SQL}),
            hits AS (
              SELECT k AS keyword,
                     (length(text) - length(replace(text, k, '')))
                       // length(k) AS h
              FROM documents, kw
            )
            SELECT keyword, count(*)::BIGINT AS n_docs,
                   sum(h)::BIGINT AS n_hits
            FROM hits WHERE h > 0 GROUP BY keyword
        """)
def _q_keyword_profile(spark, sf_dir):
    """One-pass multi-keyword dictionary profile via a broadcast
    Aho-Corasick automaton (functions/keywords.py keyword_profile):
    per keyword, documents hit and total leftmost-non-overlapping
    occurrences — one scan for the whole dictionary where the naive
    plan is K regex passes. The SQL oracle is the replace-trick count,
    which the non-overlap semantics match exactly."""

    d = read(spark, sf_dir, "documents")
    return keyword_profile(d, "doc_id", "text", _KEYWORDS)


@query(oracle="""
            WITH parts AS (
              SELECT count(DISTINCT source)::BIGINT AS k
              FROM documents
            ),
            toks AS (
              SELECT source AS p, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tp AS (
              SELECT t, p, count(*)::BIGINT AS c
              FROM toks GROUP BY t, p
            ),
            per AS (
              SELECT t, sum(c)::BIGINT AS total_freq,
                sum(c * c)::BIGINT AS c2,
                count(*)::BIGINT AS n_parts_hit
              FROM tp GROUP BY t
            )
            SELECT t AS term, total_freq, n_parts_hit,
              floor((1.0 - (sqrt(greatest(0.0,
                       c2::DOUBLE / k::DOUBLE
                       - (total_freq::DOUBLE / k::DOUBLE)
                         * (total_freq::DOUBLE / k::DOUBLE)))
                     / (total_freq::DOUBLE / k::DOUBLE))
                    / sqrt(k::DOUBLE - 1.0)) * 1e6) / 1e6 AS d_q6
            FROM per, parts
            ORDER BY total_freq DESC, term ASC LIMIT 20
        """)
def _q_juilland(spark, sf_dir):
    """Juilland's D dispersion of the top-20 corpus terms across
    sources (functions/keywords.py juilland_dispersion): a frequent
    term with low D is a shard artifact, not a corpus term. Absent
    cells are zero by contract, so per-term CV comes from integer
    moments — no stepped window; TakeOrdered top-k."""

    return juilland_dispersion(
        read(spark, sf_dir, "documents"), "source", "text", top_k=20
    )


@query(oracle="""
            WITH toks AS (
              SELECT source AS p,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS t
              FROM documents
            ),
            psize AS (
              SELECT p, count(*)::BIGINT AS pn FROM toks GROUP BY p
            ),
            tot AS (
              SELECT sum(pn)::BIGINT AS nn, min(pn)::BIGINT AS pmin
              FROM psize
            ),
            tp AS (
              SELECT t, p, count(*)::BIGINT AS c
              FROM toks GROUP BY t, p
            ),
            cells AS (
              SELECT tp.t, tp.p, tp.c, psize.pn
              FROM tp JOIN psize ON tp.p = psize.p
            ),
            per_term AS (
              SELECT t, sum(c)::BIGINT AS total_freq,
                     count(*)::BIGINT AS n_parts_hit,
                     sum(pn)::BIGINT AS bp
              FROM cells GROUP BY t
            ),
            a_sum AS (
              SELECT cells.t,
                sum(abs(CAST(cells.c AS DECIMAL(38,0))
                        * CAST(nn AS DECIMAL(38,0))
                        - CAST(cells.pn AS DECIMAL(38,0))
                        * CAST(total_freq AS DECIMAL(38,0))))
                  AS a
              FROM cells
                JOIN per_term ON cells.t = per_term.t, tot
              GROUP BY cells.t
            ),
            j AS (
              SELECT per_term.t, total_freq, n_parts_hit, bp, a,
                     nn, pmin
              FROM per_term JOIN a_sum ON per_term.t = a_sum.t, tot
            ),
            scored AS (
              SELECT t, total_freq, n_parts_hit,
                0.5 * (1.0
                       + a::DOUBLE / (total_freq::DOUBLE * nn::DOUBLE)
                       - bp::DOUBLE / nn::DOUBLE) AS dp,
                pmin::DOUBLE / nn::DOUBLE AS smin
              FROM j
            )
            SELECT t AS term, total_freq, n_parts_hit,
              floor(dp * 1e6) / 1e6 AS dp_q6,
              CASE WHEN smin < 1.0 THEN
                floor(dp / (1.0 - smin) * 1e6) / 1e6
              END AS dp_norm_q6
            FROM scored
            ORDER BY total_freq DESC, term
            LIMIT 20
        """)
def _q_gries_dp(spark, sf_dir):
    """Gries' Deviation of Proportions for the corpus's top-20 terms
    across sources (functions/keywords.py gries_dp) — the
    part-size-robust dispersion standard next to q_juilland on the
    same layout. Exact-integer present-cell sums (the absent-cell
    mass folds in algebraically), two terminal divisions, TakeOrdered
    top-k."""

    d = read(spark, sf_dir, "documents")
    return gries_dp(d, "source", "text", top_k=20)


@query(oracle="""
            WITH toks AS (
              SELECT source AS p, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tp AS (
              SELECT p, t, count(*)::BIGINT AS c
              FROM toks GROUP BY p, t
            ),
            totals AS (SELECT p, sum(c)::BIGINT AS tpn FROM tp GROUP BY p),
            topw AS (
              SELECT t FROM (
                SELECT t, sum(c)::BIGINT AS tot FROM tp GROUP BY t
              ) ORDER BY tot DESC, t ASC LIMIT 30
            ),
            grid AS (
              SELECT totals.p AS p, topw.t AS t, tpn
              FROM totals CROSS JOIN topw
            ),
            filled AS (
              SELECT grid.p AS p, grid.t AS t, tpn,
                coalesce(tp.c, 0)::DOUBLE / tpn::DOUBLE AS f
              FROM grid LEFT JOIN tp
                ON grid.p = tp.p AND grid.t = tp.t
            ),
            wstats AS (
              SELECT p, t, tpn, f,
                sum(f) OVER (PARTITION BY t ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sf,
                sum(f * f) OVER (PARTITION BY t ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sf2,
                row_number() OVER (PARTITION BY t ORDER BY p) AS rn,
                count(*) OVER (PARTITION BY t) AS k
              FROM filled
            ),
            per_word AS (
              SELECT t, sf / k::DOUBLE AS mean,
                sqrt(greatest(0.0, sf2 / k::DOUBLE
                     - (sf / k::DOUBLE) * (sf / k::DOUBLE))) AS sd
              FROM wstats WHERE rn = k
            ),
            z AS (
              SELECT filled.p AS p, filled.t AS t, tpn,
                CASE WHEN sd > 0 THEN abs((f - mean) / sd)
                     ELSE 0.0 END AS az
              FROM filled JOIN per_word ON filled.t = per_word.t
            ),
            stepped AS (
              SELECT p, tpn,
                sum(az) OVER (PARTITION BY p ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sz,
                row_number() OVER (PARTITION BY p ORDER BY t) AS rn,
                count(*) OVER (PARTITION BY p) AS kw
              FROM z
            )
            SELECT p AS part, tpn AS n_tokens,
              floor(sz / kw::DOUBLE * 1e6) / 1e6 AS delta_q6
            FROM stepped WHERE rn = kw
        """)
def _q_burrows(spark, sf_dir):
    """Burrows' Delta stylistic outlierness per source
    (functions/keywords.py burrows_delta): mean |z| of top-30
    function-word frequencies — flags the shard whose word-usage
    PROFILE deviates (template farm, register shift), the
    part-centric complement to q_juilland. Explicit grid completion;
    every float reduction order-pinned."""

    return burrows_delta(
        read(spark, sf_dir, "documents"), "source", "text", top_k=30
    )
