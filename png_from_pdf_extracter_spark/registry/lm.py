"""Driver queries over ``functions/lm.py`` (language-model corpus statistics
and BPE)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import lm
from png_from_pdf_extracter_spark.functions.lm import (
    good_turing,
    keyness_g2,
    kn_bigram_perplexity,
    log_odds_prior,
    term_burstiness,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            freq AS (
              SELECT word, count(*) AS cnt FROM terms GROUP BY word
            ),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq)
            SELECT doc_id,
                   count(*) AS n_tokens,
                   round(-avg(ln(cnt / total)), 3) AS avg_nll,
                   round(exp(-avg(ln(cnt / total))), 1) AS ppl
            FROM terms JOIN freq USING (word), tot
            GROUP BY doc_id
        """)
def _q_perplexity(spark, sf_dir):
    """Unigram-LM perplexity per document (functions/lm.py) — the
    CCNet/Gopher perplexity-filter stage, scored against the corpus' own
    unigram distribution so it stays oracle-exact."""

    d = read(spark, sf_dir, "documents")
    return lm.unigram_perplexity(d)


@query(oracle="""
            WITH toks AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wf AS (SELECT word, count(*) AS cnt FROM toks GROUP BY word),
            idx AS (
              SELECT word, cnt,
                     unnest(generate_series(1, length(word) - 1)) AS i
              FROM wf WHERE length(word) >= 2
            ),
            pairs AS (SELECT substring(word, i, 2) AS pair, cnt FROM idx)
            SELECT pair, sum(cnt)::BIGINT AS n
            FROM pairs GROUP BY pair
            ORDER BY n DESC, pair
            LIMIT 20
        """)
def _q_bpe_pairs(spark, sf_dir):
    """One BPE tokenizer-training iteration: top-20 adjacent-symbol merge
    candidates over the word-frequency table (lm.bpe_merge_stats) —
    integer counts, deterministic tie-break, oracle-exact."""

    return lm.bpe_merge_stats(read(spark, sf_dir, "documents"))


# rows-only: iterative tokenizer training (see _q_bpe_train)
@query(pin="tests/test_lm.py::test_bpe_train_hand_computed_merges")
def _q_bpe_train(spark, sf_dir):
    """Iterative BPE tokenizer training (8 merges) — rows-only: the loop
    is iterative-by-nature (each round's winner feeds the next), not
    SQL-expressible; rank-1 equals the oracle-checked q_bpe_pairs top
    pair, and the full merge sequence is hand-verified in
    tests/test_lm.py."""

    return lm.bpe_train(read(spark, sf_dir, "documents"), n_merges=8)


# rows-only: iterative per-word merge application (see _q_bpe_encode)
@query(pin="tests/test_lm.py::test_bpe_encode_hand_computed")
def _q_bpe_encode(spark, sf_dir):
    """APPLY the trained tokenizer: per-doc BPE token counts under an
    8-merge vocab learned from the same corpus (lm.bpe_encode — the vocab
    trick keeps the Python boundary vocab-sized). Rows-only: the per-word
    merge loop is iterative, not SQL-expressible; hand-computed encodings
    pinned in tests/test_lm.py."""

    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    merges = [
        (r["a"], r["b"])
        for r in lm.bpe_train(d, n_merges=8).orderBy("rank").collect()
    ]
    return lm.bpe_encode(d, merges)


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2
            ),
            bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
            bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
            ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
            voc AS (
              SELECT count(DISTINCT word)::DOUBLE AS v
              FROM (SELECT unnest(t) AS word FROM toks)
            )
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-avg(ln((c12 + 1) / (c1 + v))), 3) AS avg_nll,
                   round(exp(-avg(ln((c12 + 1) / (c1 + v)))), 1) AS ppl
            FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1), voc
            GROUP BY doc_id
        """)
def _q_bigram_perplexity(spark, sf_dir):
    """Bigram-LM perplexity with add-one smoothing (functions/lm.py) —
    one order up the KenLM ladder from q_perplexity; all counts are
    integers so the DuckDB oracle reproduces the model exactly."""

    d = read(spark, sf_dir, "documents")
    return lm.bigram_perplexity(d)


@query(oracle="""
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            freq AS (
              SELECT word, count(*) AS cnt FROM terms GROUP BY word
            ),
            tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq),
            ppl AS (
              SELECT doc_id,
                     round(exp(-avg(ln(cnt / total))), 1) AS ppl
              FROM terms JOIN freq USING (word), tot
              GROUP BY doc_id
            ),
            lab AS (
              SELECT d.lang, p.ppl,
                     (ARRAY['head', 'middle', 'tail'])[
                       ntile(3) OVER (PARTITION BY d.lang
                                      ORDER BY p.ppl, p.doc_id)] AS bucket
              FROM ppl p JOIN documents d USING (doc_id)
            )
            SELECT lang, bucket, count(*) AS n_docs,
                   round(min(ppl), 1) AS min_ppl,
                   round(max(ppl), 1) AS max_ppl
            FROM lab
            GROUP BY lang, bucket
        """)
def _q_ppl_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-language head/middle/tail
    terciles of the unigram-LM perplexity (ntile over a deterministic
    order), rolled up to bucket stats — the standard split used to
    stage quality-weighted sampling of web data."""

    d = read(spark, sf_dir, "documents")
    ppl = lm.unigram_perplexity(d).join(d.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("ppl", "doc_id")
    lab = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.ntile(3).over(w),
    )
    return (
        ppl.withColumn("bucket", lab)
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.min("ppl"), 1).alias("min_ppl"),
            F.round(F.max("ppl"), 1).alias("max_ppl"),
        )
    )


@query(oracle="""
            WITH t AS (
              SELECT list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS w
              FROM documents
            ),
            big AS (
              SELECT unnest(w[1:len(w)-1]) AS a,
                     unnest(w[2:len(w)]) AS b
              FROM t WHERE len(w) >= 2
            ),
            n_ab AS (
              SELECT a, b, count(*)::BIGINT AS n_ab
              FROM big GROUP BY a, b
            ),
            uni AS (
              SELECT unnest(w) AS word FROM t
            ),
            n_w AS (
              SELECT word, count(*)::BIGINT AS n_w FROM uni GROUP BY word
            ),
            tot AS (
              SELECT (SELECT sum(n_ab)::BIGINT FROM n_ab) AS n_big,
                     (SELECT count(*)::BIGINT FROM uni) AS n_uni
            )
            SELECT p.a, p.b, p.n_ab,
                   floor((log2(p.n_ab) - log2(n_big)
                          - log2(ua.n_w) - log2(ub.n_w)
                          + 2.0 * log2(n_uni)) * 10000) / 10000 AS pmi_q
            FROM n_ab p
            JOIN n_w ua ON ua.word = p.a
            JOIN n_w ub ON ub.word = p.b, tot
            WHERE p.n_ab >= 5
            ORDER BY pmi_q DESC, p.a, p.b
            LIMIT 50
        """)
def _q_pmi_bigrams(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return lm.pmi_bigrams(d, min_count=5, top_k=50)


@query(oracle="""
            WITH terms AS (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            uni AS (
              SELECT word, count(*)::BIGINT AS cnt
              FROM terms GROUP BY word
              ORDER BY cnt DESC, word LIMIT 100
            ),
            ranked AS (
              SELECT log2(cnt) AS y,
                     log2(row_number() OVER (ORDER BY cnt DESC, word)) AS x
              FROM uni
            )
            SELECT count(*)::BIGINT AS n_tokens_ranked,
                   round(regr_slope(y, x), 4) AS slope,
                   round(regr_r2(y, x), 4) AS r2
            FROM ranked
        """)
def _q_zipf_fit(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return lm.zipf_fit(d, top_k=100)


@query(oracle="""
            WITH terms AS (
              SELECT CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS s,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            cnt AS (
              SELECT word, sum(s)::BIGINT AS ca,
                     sum(1 - s)::BIGINT AS cb
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(ca)::BIGINT AS ta, sum(cb)::BIGINT AS tb FROM cnt
            )
            SELECT count(*)::BIGINT AS n_words,
                   max(ta)::BIGINT AS n_tokens_a,
                   max(tb)::BIGINT AS n_tokens_b,
                   floor(sum(
                     CASE WHEN ca > 0 THEN
                       0.5 * (ca / CAST(ta AS DOUBLE))
                       * log2((ca / CAST(ta AS DOUBLE))
                              / ((ca / CAST(ta AS DOUBLE)
                                  + cb / CAST(tb AS DOUBLE)) / 2))
                     ELSE 0.0 END
                     +
                     CASE WHEN cb > 0 THEN
                       0.5 * (cb / CAST(tb AS DOUBLE))
                       * log2((cb / CAST(tb AS DOUBLE))
                              / ((ca / CAST(ta AS DOUBLE)
                                  + cb / CAST(tb AS DOUBLE)) / 2))
                     ELSE 0.0 END
                   ) * 1000000) / 1000000 AS jsd_q
            FROM cnt, tot
        """)
def _q_jsd_split(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return lm.js_divergence(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
    )


@query(oracle="""
            WITH terms AS (
              SELECT lang AS cls,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT cls, word, count(*)::BIGINT AS n11
              FROM terms GROUP BY cls, word
            ),
            cls_tot AS (
              SELECT cls, count(*)::BIGINT AS n_cls
              FROM terms GROUP BY cls
            ),
            word_tot AS (
              SELECT word, sum(n11)::BIGINT AS n_word FROM wc GROUP BY word
            ),
            grand AS (SELECT sum(n_cls)::BIGINT AS n_all FROM cls_tot)
            SELECT cls AS class, word, n11,
                   floor(
                     (CAST(n_all AS DOUBLE)
                      * (CAST(n11 AS DOUBLE) * CAST(n_all - n_cls - n_word + n11 AS DOUBLE)
                         - CAST(n_word - n11 AS DOUBLE) * CAST(n_cls - n11 AS DOUBLE))
                      * (CAST(n11 AS DOUBLE) * CAST(n_all - n_cls - n_word + n11 AS DOUBLE)
                         - CAST(n_word - n11 AS DOUBLE) * CAST(n_cls - n11 AS DOUBLE)))
                     / ((CAST(n11 AS DOUBLE) + CAST(n_word - n11 AS DOUBLE))
                        * (CAST(n_cls - n11 AS DOUBLE) + CAST(n_all - n_cls - n_word + n11 AS DOUBLE))
                        * (CAST(n11 AS DOUBLE) + CAST(n_cls - n11 AS DOUBLE))
                        * (CAST(n_word - n11 AS DOUBLE) + CAST(n_all - n_cls - n_word + n11 AS DOUBLE)))
                     * 10000) / 10000 AS chi2_q
            FROM wc JOIN cls_tot USING (cls) JOIN word_tot USING (word), grand
            WHERE n11 >= 5
            ORDER BY chi2_q DESC, class, word
            LIMIT 50
        """)
def _q_chi2_terms(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return lm.chi2_terms(d, class_col="lang", min_count=5, top_k=50)


@query(oracle="""
            WITH toks AS (
              SELECT doc_id % 10 AS m,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS w
              FROM documents
            ),
            terms AS (
              SELECT m,
                     unnest(w[1:len(w)-2]) || ' ' || unnest(w[2:len(w)-1])
                       || ' ' || unnest(w[3:len(w)]) AS word
              FROM toks WHERE len(w) >= 3
            ),
            per_word AS (
              SELECT word, min(m) AS first_m FROM terms GROUP BY word
            ),
            tok_per_m AS (
              SELECT m, count(*)::BIGINT AS n_tok FROM terms GROUP BY m
            ),
            ks AS (SELECT unnest(generate_series(1, 10))::INT AS k),
            vocab AS (
              SELECT k, count(*)::BIGINT AS vocab
              FROM ks JOIN per_word ON first_m < k GROUP BY k
            ),
            tokens AS (
              SELECT k, sum(n_tok)::BIGINT AS n_tokens
              FROM ks JOIN tok_per_m ON m < k GROUP BY k
            ),
            pts AS (
              SELECT k, n_tokens, vocab,
                     log2(n_tokens) AS x, log2(vocab) AS y
              FROM vocab JOIN tokens USING (k)
            ),
            slope AS (
              SELECT round(regr_slope(y, x), 4) + 0.0 AS heaps_beta
              FROM pts
            )
            SELECT k, n_tokens, vocab, heaps_beta
            FROM pts, slope
            ORDER BY k
        """)
def _q_vocab_growth(spark, sf_dir):
    """Heaps'-law vocabulary growth: token count vs distinct-TRIGRAM
    count over 10 nested corpus subsets (doc_id % 10 < k —
    deterministic, order-free nesting), plus the log-log Heaps exponent
    via regr_slope over the 10 integer-derived points. Trigrams, not
    unigrams: the synthetic generator draws from a fixed 31-word list,
    so the unigram curve saturates immediately (and a constant y makes
    regr_slope float-noise around +/-0.0 — sign-normalized with + 0.0
    anyway). One explode feeds all subsets (conditional aggregates, no
    per-k scans)."""

    w = tokens(F.lower(F.col("text")))
    s1 = F.slice(w, 1, F.size(w) - 2)
    s2 = F.slice(w, 2, F.size(w) - 2)
    s3 = F.slice(w, 3, F.size(w) - 2)
    tri = F.zip_with(
        F.zip_with(s1, s2, lambda a, b: F.concat(a, F.lit(" "), b)),
        s3,
        lambda ab, c: F.concat(ab, F.lit(" "), c),
    )
    d = read(spark, sf_dir, "documents")
    terms = d.filter(F.size(w) >= 3).select(
        (F.col("doc_id") % 10).alias("m"),
        F.explode(tri).alias("word"),
    )
    # per (word, m): then per word the MINIMAL m bucket it appears in —
    # vocab at subset k = words with min_m < k; tokens at k = cumulative
    per_word = terms.groupBy("word").agg(
        F.min("m").alias("first_m"), F.count("*").alias("n_all")
    )
    tok_per_m = terms.groupBy("m").agg(F.count("*").alias("n_tok"))
    ks = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    vocab = (
        ks.join(per_word, F.col("first_m") < F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("vocab"))
    )
    tokens_at_k = (
        ks.join(tok_per_m, F.col("m") < F.col("k"))
        .groupBy("k")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    pts = vocab.join(tokens_at_k, "k").select(
        "k", "n_tokens", "vocab",
        F.log2("n_tokens").alias("x"), F.log2("vocab").alias("y"),
    )
    slope = pts.agg(
        # + 0.0 collapses IEEE -0.0 to 0.0 (a constant-y corpus rounds
        # regr_slope's float noise to a signed zero that renders
        # differently across engines)
        (F.round(F.regr_slope("y", "x"), 4) + F.lit(0.0)).alias(
            "heaps_beta"
        )
    )
    return (
        pts.select("k", "n_tokens", "vocab")
        .crossJoin(F.broadcast(slope))
        .orderBy("k")
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            idx AS (
              SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 2
            ),
            bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
            bgc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
            ctx AS (
              SELECT w1, sum(c12) AS c1, count(*) AS n1fwd
              FROM bgc GROUP BY w1
            ),
            hist AS (SELECT w2, count(*) AS n1back FROM bgc GROUP BY w2),
            typ AS (SELECT count(*)::DOUBLE AS ntypes FROM bgc)
            SELECT doc_id,
                   count(*) AS n_bigrams,
                   round(-avg(ln(
                     greatest(c12 - 0.75, 0.0) / c1
                     + (0.75 * n1fwd / c1) * (n1back / ntypes)
                   )), 3) AS avg_nll,
                   round(exp(-avg(ln(
                     greatest(c12 - 0.75, 0.0) / c1
                     + (0.75 * n1fwd / c1) * (n1back / ntypes)
                   ))), 1) AS ppl
            FROM bg JOIN bgc USING (w1, w2) JOIN ctx USING (w1)
                 JOIN hist USING (w2), typ
            GROUP BY doc_id
        """)
def _q_kn_perplexity(spark, sf_dir):
    """Per-document interpolated Kneser-Ney bigram perplexity
    (functions/lm.py kn_bigram_perplexity, d=3/4): continuation-count
    smoothing — the estimator KenLM-style production filters ship —
    from the same one-pass bigram count tables as q_bigram_perplexity;
    integer model quantities, rounded emits."""

    d = read(spark, sf_dir, "documents")
    return kn_bigram_perplexity(d)


@query(oracle="""
            WITH terms AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT word, sum(in_a)::BIGINT AS a,
                     sum(1 - in_a)::BIGINT AS b
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(in_a)::BIGINT AS na,
                     sum(1 - in_a)::BIGINT AS nb
              FROM terms
            )
            SELECT word, a, b,
                   floor(2.0 * (
                     (CASE WHEN a > 0 THEN a::DOUBLE * ln(
                        a::DOUBLE / (na::DOUBLE
                          * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE)))
                      ELSE 0.0 END)
                     + (CASE WHEN b > 0 THEN b::DOUBLE * ln(
                        b::DOUBLE / (nb::DOUBLE
                          * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE)))
                      ELSE 0.0 END)
                   ) * 10000) / 10000 AS g2_q,
                   (CASE WHEN a::DOUBLE * nb::DOUBLE
                              > b::DOUBLE * na::DOUBLE THEN 1
                         WHEN a::DOUBLE * nb::DOUBLE
                              < b::DOUBLE * na::DOUBLE THEN -1
                         ELSE 0 END)::INTEGER AS direction
            FROM wc, tot
            WHERE a + b >= 5
            ORDER BY g2_q DESC, word
            LIMIT 100
        """)
def _q_keyness(spark, sf_dir):
    """Dunning G2 keyness of English documents vs the rest
    (functions/lm.py keyness_g2): which words characterize the focus
    corpus — BIGINT token counts, one broadcast totals row, one float
    G2 expression per term mirrored verbatim in the oracle."""

    d = read(spark, sf_dir, "documents")
    return keyness_g2(d, "lang", "en", min_count=5, top_k=100)


@query(oracle="""
            WITH grams AS (
              SELECT unnest(list_transform(
                       range(1, greatest(len(w) - 1, 0) + 1),
                       i -> w[i] || ' ' || w[i+1])) AS gram
              FROM (SELECT list_filter(
                      regexp_split_to_array(lower(trim(text)), '\\s+'),
                      x -> length(x) > 0) AS w
                    FROM documents)
            ),
            counts AS (SELECT gram, count(*) AS r FROM grams GROUP BY gram),
            fof AS (SELECT r, count(*)::BIGINT AS n_r FROM counts GROUP BY r)
            SELECT f.r::BIGINT AS r, f.n_r,
                   round((f.r + 1) * coalesce(g.n_r, 0) / f.r_div, 6)
                     AS r_star
            FROM (SELECT r, n_r, n_r::DOUBLE AS r_div FROM fof) f
            LEFT JOIN fof g ON g.r = f.r + 1
        """)
def _q_good_turing(spark, sf_dir):
    """Simple Good-Turing re-estimation over corpus bigram counts
    (functions/lm.py good_turing): r* = (r+1) N_{r+1} / N_r from the
    freq-of-freq table — integer-exact until the one division; bigrams
    because the closed unigram vocabulary has no singleton tail (the
    regime GT exists for)."""

    d = read(spark, sf_dir, "documents")
    return good_turing(d, "text", n=2)


@query(oracle="""
            WITH terms AS (
              SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS in_a,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT word, sum(in_a)::BIGINT AS a,
                     sum(1 - in_a)::BIGINT AS b
              FROM terms GROUP BY word
            ),
            tot AS (
              SELECT sum(in_a)::BIGINT AS na,
                     sum(1 - in_a)::BIGINT AS nb
              FROM terms
            ),
            scored AS (
              SELECT word, a, b,
                ln((a::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                      / (na::DOUBLE + nb::DOUBLE))
                   / (na::DOUBLE + 500.0 - a::DOUBLE
                      - 500.0 * (a::DOUBLE + b::DOUBLE)
                        / (na::DOUBLE + nb::DOUBLE)))
                - ln((b::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                        / (na::DOUBLE + nb::DOUBLE))
                     / (nb::DOUBLE + 500.0 - b::DOUBLE
                        - 500.0 * (a::DOUBLE + b::DOUBLE)
                          / (na::DOUBLE + nb::DOUBLE))) AS delta,
                1.0 / (a::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                       / (na::DOUBLE + nb::DOUBLE))
                + 1.0 / (b::DOUBLE + 500.0 * (a::DOUBLE + b::DOUBLE)
                         / (na::DOUBLE + nb::DOUBLE)) AS var
              FROM wc, tot
              WHERE a + b >= 5
            ),
            zz AS (
              SELECT word, a, b, delta,
                delta / sqrt(var) AS z
              FROM scored
            )
            SELECT word, a, b,
              floor(delta * 1e6) / 1e6 AS delta_q6,
              floor(z * 1e6) / 1e6 AS z_q6,
              (CASE WHEN z > 0 THEN 1 WHEN z < 0 THEN -1
                    ELSE 0 END)::INTEGER AS direction
            FROM zz
            ORDER BY floor(abs(z) * 1e6) / 1e6 DESC, word
            LIMIT 100
        """)
def _q_log_odds(spark, sf_dir):
    """Monroe 'Fightin' Words' log-odds with informative Dirichlet
    prior, English vs the rest (functions/lm.py log_odds_prior) — the
    shrunk corpus-comparison reading next to q_keyness (G²) on the
    SAME split, so small-sample artifacts are visible as terms only
    the unshrunk statistic flags. Deterministic top-k cut on the
    floor-6dp |z|."""

    d = read(spark, sf_dir, "documents")
    return log_odds_prior(
        d, "lang", "en", alpha0=500.0, min_count=5, top_k=100
    )


@query(oracle="""
            WITH td AS (
              SELECT doc_id AS d,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0)) AS t
              FROM documents
            ),
            tdc AS (
              SELECT t, d, count(*)::BIGINT AS c
              FROM td GROUP BY t, d
            ),
            per_term AS (
              SELECT t, sum(c)::BIGINT AS cf, count(*)::BIGINT AS df,
                sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::BIGINT AS df2
              FROM tdc GROUP BY t
            )
            SELECT t AS term, cf, df, df2,
              floor(cf::DOUBLE / df::DOUBLE * 1e6) / 1e6
                AS burstiness_q6,
              floor(df2::DOUBLE / df::DOUBLE * 1e6) / 1e6
                AS adaptation_q6
            FROM per_term
            WHERE df >= 5
            ORDER BY cf DESC, term
            LIMIT 100
        """)
def _q_burstiness(spark, sf_dir):
    """Church-Gale term burstiness + adaptation over documents
    (functions/lm.py term_burstiness): cf/df and P(repeat|occurs) per
    term — the single-term template/boilerplate detector next to
    q_ngram_commonness. Exact BIGINT counts off one (term, doc)
    table; deterministic top-k by (cf, term)."""

    d = read(spark, sf_dir, "documents")
    return term_burstiness(d, "doc_id", "text", min_df=5, top_k=100)
