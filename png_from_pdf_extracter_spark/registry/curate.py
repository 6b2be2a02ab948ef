"""Driver queries over ``functions/curate.py`` (data curation: quality,
packing, scoring)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import curate
from png_from_pdf_extracter_spark.functions.curate import (
    compression_ratio,
    curriculum_stages,
    diversity_card,
    dp_group_counts,
    hash_sample,
    k_anonymity_report,
    l_diversity_report,
    mixture_divergence,
    negative_sample,
    neyman_allocation,
    ngram_commonness,
    span_corruption_plan,
    stratified_estimate,
    t_closeness_report,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    FP_SQL,
    LANG_CASE,
    NTOK_SQL,
    QUALITY_SQL,
    SHINGLES_CTE,
    read,
)


_CURATE_CTE = f"""
        a AS (
          SELECT doc_id, {FP_SQL} AS fingerprint, {LANG_CASE} AS lang,
                 {NTOK_SQL} AS n_tokens, {QUALITY_SQL} AS quality
          FROM documents
        ),
        k AS (
          SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keep
          FROM a
        )
    """


@query(oracle=f"""
            WITH {_CURATE_CTE}
            SELECT doc_id, fingerprint, lang, n_tokens, quality
            FROM k
            WHERE doc_id = keep AND lang = 'en' AND quality >= 0.3
              AND n_tokens BETWEEN 10 AND 100000
        """)
def _q_curate(spark, sf_dir):
    """Composed training-data curation pipeline: fingerprint dedup ->
    language gate -> quality gate -> token budget (functions/curate.py).
    Returns survivors + their evidence columns."""
    d = read(spark, sf_dir, "documents")
    out = curate.curate_corpus(
        d, langs=("en",), min_quality=0.3, min_tokens=10, max_tokens=100_000
    )
    return out.select("doc_id", "fingerprint", "lang", "n_tokens", "quality")


@query(oracle=f"""
            WITH {_CURATE_CTE}
            SELECT stage, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
            FROM (
              SELECT n_tokens,
                     CASE WHEN doc_id <> keep THEN 'dup'
                          WHEN lang <> 'en' THEN 'lang'
                          WHEN quality < 0.3 THEN 'low_quality'
                          WHEN n_tokens < 10 OR n_tokens > 100000
                            THEN 'token_bounds'
                          ELSE 'kept' END AS stage
              FROM k
            ) GROUP BY stage
        """)
def _q_curate_funnel(spark, sf_dir):
    """Per-gate attrition report for the curation pipeline (each doc
    labeled with the first gate that drops it)."""
    d = read(spark, sf_dir, "documents")
    return curate.curation_funnel(
        d, langs=("en",), min_quality=0.3, min_tokens=10, max_tokens=100_000
    )


@query(oracle="""
            SELECT lang, count(*) AS n_total,
                   sum(CASE WHEN CAST(('0x' || substring(
                         md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 3
                       THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
                   round(sum(CASE WHEN CAST(('0x' || substring(
                         md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 10 < 3
                       THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS rate
            FROM documents GROUP BY lang
        """)
def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based sampling (curate.hash_sample, 30%) with
    per-language stratum accounting — reproducible across engines/runs,
    unlike RNG-based df.sample."""
    d = read(spark, sf_dir, "documents")
    kept = curate.hash_sample(d, "doc_id", numerator=3, denominator=10)
    return (
        d.withColumn("_k", kept)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("_k"), 1).otherwise(0)).alias("n_sampled"),
        )
        .withColumn(
            "rate", F.round(F.col("n_sampled") / F.col("n_total"), 4)
        )
    )


@query(oracle="""
            WITH s AS (
              SELECT lang, doc_id,
                     CAST(('0x' || substring(
                       md5(doc_id::VARCHAR), 1, 15)) AS BIGINT) % 100 AS h
              FROM documents
            )
            SELECT lang,
                   CASE WHEN h < 10 THEN 'test'
                        WHEN h < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   count(*) AS n_docs,
                   min(doc_id) AS min_id,
                   sum(doc_id)::BIGINT AS id_sum
            FROM s GROUP BY 1, 2
        """)
def _q_train_split(spark, sf_dir):
    """Deterministic train/val/test split (curate.split_assign, 80/10/10):
    a row's split is a pure function of md5(id), so it survives corpus
    growth, repartitioning, and engine changes; stratum accounting per
    language proves the assignment, not just the rates."""
    d = read(spark, sf_dir, "documents")
    return (
        d.withColumn("split", curate.split_assign("doc_id"))
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(oracle="""
            WITH wc AS (
              SELECT doc_id, word, count(*) AS c FROM (
                SELECT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0)) AS word
                FROM documents WHERE doc_id < 300
              ) GROUP BY doc_id, word
            ),
            agg AS (
              SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                     count(*)::BIGINT AS n_distinct,
                     sum(c * ln(c)) AS clogc
              FROM wc GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, n_distinct,
                   floor((ln(n_tokens) - clogc / n_tokens)
                         / 0.6931471805599453 * 10000) / 10000
                     AS entropy_bits
            FROM agg
        """)
def _q_word_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy in bits (curate.word_entropy) —
    lexical-diversity gate: one explode, two doc-keyed map-combinable
    aggregates, floor-quantized emitter."""
    return curate.word_entropy(
        read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    )


@query(oracle="""
            WITH wx AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            wc AS (
              SELECT doc_id, word, count(*) AS cnt
              FROM wx GROUP BY doc_id, word
            ),
            agg AS (
              SELECT doc_id, sum(cnt)::BIGINT AS n_words,
                     max(cnt)::BIGINT AS top_cnt,
                     sum(cnt * length(word))::BIGINT AS total_len
              FROM wc GROUP BY doc_id
            )
            SELECT doc_id, n_words,
                   round(total_len::DOUBLE / n_words, 4) AS mean_word_len,
                   round(top_cnt::DOUBLE / n_words, 4) AS top_word_ratio,
                   (n_words BETWEEN 5 AND 1000
                    AND round(total_len::DOUBLE / n_words, 4)
                        BETWEEN 2.0 AND 12.0
                    AND round(top_cnt::DOUBLE / n_words, 4) <= 0.2)
                     AS passes
            FROM agg
        """)
def _q_gopher_quality(spark, sf_dir):
    """Gopher-style repetition/shape quality gate (curate.gopher_signals)
    over documents — word count, mean word length, top-word ratio,
    pass/fail."""
    d = read(spark, sf_dir, "documents")
    out = curate.gopher_signals(d, "doc_id", "text")
    return out.withColumnRenamed("id", "doc_id")


@query(oracle="""
            WITH lined AS (
              SELECT doc_id,
                     [substr(text, 1, 40), substr(text, 41, 40),
                      substr(text, 1, 40), substr(text, 81, 40)] AS lines
              FROM documents
            ),
            flat AS (
              SELECT doc_id,
                     unnest(list_transform(
                       lines, (x, i) -> struct_pack(line := x, pos := i)
                     )) AS u
              FROM lined
            ),
            pos AS (
              SELECT doc_id, u.line AS line, u.pos AS pos FROM flat
            ),
            firsts AS (
              SELECT doc_id, line, min(pos) AS pos
              FROM pos GROUP BY doc_id, line
            )
            SELECT p.doc_id,
                   count(*)::INTEGER AS n_lines,
                   (SELECT count(*) FROM firsts f
                    WHERE f.doc_id = p.doc_id)::INTEGER AS n_unique_lines,
                   (SELECT string_agg(f.line, chr(10) ORDER BY f.pos)
                    FROM firsts f WHERE f.doc_id = p.doc_id)
                     AS cleaned_text
            FROM pos p
            GROUP BY p.doc_id
        """)
def _q_line_dedup(spark, sf_dir):
    """Intra-document repeated-line removal (curate.dedup_lines): the
    documents table carries no newlines, so each doc is first recast as
    four fixed-width lines with the first chunk planted twice (same
    construction in the oracle) — the dedup itself is the engine under
    test: Spark's map-only array_distinct first-occurrence path vs the
    oracle's explode + min(pos) + ordered string_agg formulation."""
    d = read(spark, sf_dir, "documents")
    lined = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.substring("text", 1, 40),
            F.substring("text", 81, 40),
        ).alias("text"),
    )
    return curate.dedup_lines(lined, "doc_id", "text")


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0
                     ) AS tok
              FROM documents
            )
            SELECT doc_id,
                   len(tok)::INTEGER AS n_toks,
                   floor((CASE WHEN len(tok) > 0 THEN
                     list_sum(list_transform(tok, t ->
                       CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                          % 2001 - 1000
                     ))::DOUBLE / (len(tok) * 1000.0)
                   ELSE 0.0 END) * 10000) / 10000 AS score,
                   (CASE WHEN len(tok) > 0 THEN
                     list_sum(list_transform(tok, t ->
                       CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                          % 2001 - 1000
                     ))
                   ELSE 0 END) > 0 AS keep
            FROM toks
        """)
def _q_hash_classifier(spark, sf_dir):
    """Hashed linear quality classifier (curate.hashed_linear_score):
    fastText-shape inference as pure column expressions — md5 token
    hash -> deterministic weight -> mean score -> boolean gate. The
    oracle recomputes the identical model in DuckDB (same md5 hex, same
    bucket arithmetic), value-hashing a model inference end to end."""
    d = read(spark, sf_dir, "documents")
    score = curate.hashed_linear_score("text")
    return d.select(
        "doc_id",
        F.size(
            tokens(F.lower(F.col("text")))
        ).alias("n_toks"),
        # floor-quantized (not round): round() flips on .00005 boundaries
        # across engines even on bit-identical doubles
        (F.floor(score * 10000) / 10000).alias("score"),
        (score > 0).alias("keep"),
    )


@query(oracle="""
            WITH totals AS (
              SELECT source, sum(n_chars)::DOUBLE AS t_s
              FROM documents GROUP BY source
            ),
            shared AS (
              SELECT source, t_s,
                     1.0 / (SELECT count(*) FROM totals) AS w_s
              FROM totals
            ),
            budget AS (SELECT min(t_s / w_s) AS b FROM shared),
            rates AS (
              SELECT source,
                     round(w_s * b / t_s * 1000000)::BIGINT AS keep_ppm
              FROM shared, budget
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS kept_chars
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))
                       AS BIGINT) % 1000000 < keep_ppm
            GROUP BY source
        """)
def _q_materialize_mix(spark, sf_dir):
    """Materialize a uniform training-data mix (curate.materialize_mix):
    per-source keep rates derived from the largest feasible budget
    (bottleneck source keeps all), deterministic md5 ppm-threshold
    selection; reported per source as kept counts + achieved chars."""
    d = read(spark, sf_dir, "documents")
    kept = curate.materialize_mix(d, "source", "n_chars")
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


@query(oracle="""
            WITH totals AS (
              SELECT source, sum(n_chars)::DOUBLE AS t_s
              FROM documents GROUP BY source
            ),
            z AS (SELECT sum(pow(t_s, 0.5)) AS z FROM totals),
            shared AS (
              SELECT source, t_s, pow(t_s, 0.5) / z AS w_s
              FROM totals, z
            ),
            budget AS (SELECT min(t_s / w_s) AS b FROM shared),
            rates AS (
              SELECT source,
                     round(w_s * b / t_s * 1000000)::BIGINT AS keep_ppm
              FROM shared, budget
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS kept_chars
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 15))
                       AS BIGINT) % 1000000 < keep_ppm
            GROUP BY source
        """)
def _q_temperature_mix(spark, sf_dir):
    """Temperature-resampled mix (curate.materialize_mix alpha=0.5):
    target shares ∝ T_s^0.5 — the mBERT/XLM-R exponent sampler that
    damps big sources and boosts small ones; reported per source."""
    d = read(spark, sf_dir, "documents")
    kept = curate.materialize_mix(d, "source", "n_chars", alpha=0.5)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("kept_chars"),
    )


@query(oracle="""
            SELECT source, doc_id, n_chars, rn FROM (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC, doc_id
                     )::INTEGER AS rn
              FROM documents
            ) WHERE rn <= 5
        """)
def _q_domain_cap(spark, sf_dir):
    """Per-source quota cap (curate.cap_per_group): at most 5 docs per
    source, best-first by (n_chars desc, doc_id) — the hot-domain cap a
    training mix needs. Spark >= 3.5 plans the rn<=k filter as
    WindowGroupLimit (partial top-k before the shuffle), so the exchange
    carries O(sources x k) rows per map task at any corpus size."""
    d = read(spark, sf_dir, "documents")
    kept = curate.cap_per_group(
        d, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], k=5
    )
    return kept.select("source", "doc_id", "n_chars", "rn")


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0) AS t
              FROM documents
            ),
            g2 AS (
              SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 1)) AS i
                    FROM toks WHERE len(t) >= 2)
            ),
            g3 AS (
              SELECT doc_id,
                     t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS gram
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t) - 2)) AS i
                    FROM toks WHERE len(t) >= 3)
            ),
            a2 AS (
              SELECT doc_id,
                     round(1 - count(*)::DOUBLE / sum(cnt), 4)
                       AS dup_2gram_frac,
                     round(max(cnt)::DOUBLE / sum(cnt), 4)
                       AS top_2gram_frac
              FROM (SELECT doc_id, gram, count(*) AS cnt
                    FROM g2 GROUP BY doc_id, gram)
              GROUP BY doc_id
            ),
            a3 AS (
              SELECT doc_id,
                     round(1 - count(*)::DOUBLE / sum(cnt), 4)
                       AS dup_3gram_frac,
                     round(max(cnt)::DOUBLE / sum(cnt), 4)
                       AS top_3gram_frac
              FROM (SELECT doc_id, gram, count(*) AS cnt
                    FROM g3 GROUP BY doc_id, gram)
              GROUP BY doc_id
            )
            SELECT doc_id, dup_2gram_frac, top_2gram_frac,
                   dup_3gram_frac, top_3gram_frac,
                   (dup_2gram_frac <= 0.6 AND top_2gram_frac <= 0.08
                    AND dup_3gram_frac <= 0.6 AND top_3gram_frac <= 0.08)
                     AS passes
            FROM a2 JOIN a3 USING (doc_id)
        """)
def _q_repetition(spark, sf_dir):
    """Gopher/MassiveText repeated-n-gram repetition gate: per-doc
    duplicate- and top-{2,3}-gram fractions + combined pass flag
    (curate.repetition_signals). n-grams formed map-side from array
    slices — no join, no window."""
    return curate.repetition_signals(
        read(spark, sf_dir, "documents")
    ).withColumnRenamed("id", "doc_id")


@query(oracle="""
            WITH t AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0
                     ) AS toks
              FROM documents
            ),
            b AS (
              SELECT doc_id, toks, len(toks) AS n
              FROM t WHERE len(toks) > 0
            ),
            s AS (
              SELECT doc_id, toks, n, unnest(range(0, n, 40)) AS start
              FROM b
            )
            SELECT doc_id,
                   (start // 40)::INTEGER AS chunk_idx,
                   start::INTEGER AS start,
                   len(toks[start + 1 : start + 50])::INTEGER
                     AS n_chunk_tokens,
                   md5(array_to_string(toks[start + 1 : start + 50], ' '))
                     AS chunk_fp
            FROM s
        """)
def _q_chunk_sliding(spark, sf_dir):
    """Sliding-window RAG chunking (curate.chunk_sliding, size=50
    stride=40 -> 10-token overlap): map-side tokenize -> sequence ->
    explode -> slice, zero shuffles; chunk md5 fingerprints feed
    chunk-level dedup downstream."""
    d = read(spark, sf_dir, "documents")
    return curate.chunk_sliding(d, size=50, stride=40)


@query(oracle="""
            WITH planted AS (
              SELECT doc_id,
                     concat(
                       CASE WHEN doc_id % 3 = 0
                            THEN 'JOIN OUR NEWSLETTER TODAY' || chr(10)
                            ELSE '' END,
                       text,
                       CASE WHEN doc_id % 5 = 0
                            THEN chr(10) || 'COPYRIGHT 2026 ALL RIGHTS RESERVED'
                            ELSE '' END
                     ) AS text
              FROM documents
            ),
            l AS (
              SELECT doc_id, u.pos AS pos, u.line AS line FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ln) + 1),
                              i -> {'pos': i, 'line': ln[i]})) AS u
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ln
                      FROM planted)
              )
            ),
            ldf AS (
              SELECT line, count(DISTINCT doc_id) AS ldf
              FROM l GROUP BY line
            ),
            kept AS (
              SELECT doc_id, pos, line
              FROM l JOIN ldf USING (line) WHERE ldf <= 2
            ),
            tot AS (
              SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id
            ),
            reb AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT t.doc_id,
                   md5(coalesce(reb.clean_text, '')) AS clean_md5,
                   coalesce(reb.n_kept, 0)::BIGINT AS n_kept,
                   (t.n_lines - coalesce(reb.n_kept, 0))::BIGINT AS n_dropped
            FROM tot t LEFT JOIN reb USING (doc_id)
        """)
def _q_boilerplate_strip(spark, sf_dir):
    """C4-style corpus-frequent line removal (curate.boilerplate_strip)
    on a constructed input: every 3rd doc gets a planted newsletter
    header line, every 5th a copyright footer (the synthetic docs are
    single-line, so boilerplate is planted the same way the dedup
    queries plant re-ingests). max_line_df=2 strips exactly the planted
    lines; originals (line DF 1) survive byte-identically. clean_text
    is emitted as md5 to keep the value hash cheap."""
    d = read(spark, sf_dir, "documents")
    header = "JOIN OUR NEWSLETTER TODAY"
    footer = "COPYRIGHT 2026 ALL RIGHTS RESERVED"
    planted = d.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit(header + "\n"))
            .otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + footer))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = curate.boilerplate_strip(planted, max_line_df=2)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_kept",
        "n_dropped",
    )


@query(oracle="""
            WITH toks AS (
              SELECT source AS g,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            tf AS (SELECT g, tok, count(*) AS c FROM toks GROUP BY g, tok),
            norms AS (SELECT g, sum(c * c)::BIGINT AS n2 FROM tf GROUP BY g),
            dots AS (
              SELECT a.g AS src1, b.g AS src2, sum(a.c * b.c)::BIGINT AS dot
              FROM tf a JOIN tf b USING (tok) WHERE a.g < b.g
              GROUP BY a.g, b.g
            )
            SELECT src1, src2, dot,
                   floor(dot::DOUBLE
                         / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
                         * 1e6) / 1e6 AS cos_q
            FROM dots
            JOIN norms na ON na.g = src1
            JOIN norms nb ON nb.g = src2
        """)
def _q_source_similarity(spark, sf_dir):
    """Pairwise cosine similarity between per-source term-frequency
    vectors (curate.source_similarity): BIGINT dot products and squared
    norms, sqrt(n1)*sqrt(n2) denominator (sqrt of the product would
    overflow BIGINT at scale), floor-6dp."""
    d = read(spark, sf_dir, "documents")
    return curate.source_similarity(d)


@query(oracle="""
            WITH nn AS (SELECT count(*)::BIGINT AS n FROM documents),
            pairs AS (
              SELECT doc_id AS a,
                     (doc_id * 7 + 1) % (SELECT n FROM nn) AS p
              FROM documents WHERE doc_id < 100
            ),
            anchors AS (SELECT DISTINCT a FROM pairs),
            slots AS (
              SELECT a, unnest(range(12)) AS slot FROM anchors
            ),
            cand AS (
              SELECT a, slot,
                     CAST(('0x' || substring(
                       md5('neg|' || a::VARCHAR || ':' || slot::VARCHAR),
                       1, 15
                     )) AS BIGINT) % (SELECT n FROM nn) AS c
              FROM slots
            ),
            ok AS (
              SELECT a, c, min(slot) AS slot
              FROM cand WHERE c <> a GROUP BY a, c
            ),
            clean AS (
              SELECT ok.a, ok.c, ok.slot
              FROM ok LEFT JOIN pairs
                ON ok.a = pairs.a AND ok.c = pairs.p
              WHERE pairs.a IS NULL
            ),
            r AS (
              SELECT a, c, slot,
                     row_number() OVER (
                       PARTITION BY a ORDER BY slot, c
                     ) AS rk
              FROM clean
            )
            SELECT a AS anchor_id, c AS neg_id, slot::INT AS slot
            FROM r WHERE rk <= 4
        """)
def _q_negative_sample(spark, sf_dir):
    """Deterministic uniform negative sampling for contrastive pairs
    (curate.negative_sample): synthetic (anchor, positive) pairs over
    the dense doc-id universe, 4 negatives per anchor from md5 slot
    draws — reproducible across runs/engines/partitionings."""

    d = read(spark, sf_dir, "documents")
    n = d.count()
    pairs = d.filter(F.col("doc_id") < 100).select(
        F.col("doc_id").alias("anchor_id"),
        ((F.col("doc_id") * 7 + 1) % F.lit(n)).alias("pos_id"),
    )
    return negative_sample(pairs, n_items=n, k=4)


@query(oracle="""
            SELECT event_type,
                   (hour(ts) * 60 + minute(ts))::INT AS minute_of_day,
                   count(*)::BIGINT AS n,
                   count(*) < 5 AS at_risk
            FROM events
            GROUP BY event_type, minute_of_day
        """)
def _q_k_anonymity(spark, sf_dir):
    """K-anonymity audit (curate.k_anonymity_report): quasi-identifier
    = (event_type, minute-of-day) over events — combinations shared by
    fewer than k=5 rows are linkage risks; one combinable groupBy."""

    ev = read(spark, sf_dir, "events").select(
        "event_type",
        (F.hour("ts") * 60 + F.minute("ts")).alias("minute_of_day"),
    )
    return k_anonymity_report(ev, ("event_type", "minute_of_day"), k=5)


@query(oracle=f"""
            WITH {SHINGLES_CTE},
            dfreq AS (
              SELECT shingle, count(*)::BIGINT AS df
              FROM sh GROUP BY shingle
            )
            SELECT sh.id AS doc_id,
                   count(*)::BIGINT AS n_shingles,
                   sum((df >= 5)::INTEGER)::BIGINT AS n_common,
                   floor(sum((df >= 5)::INTEGER) * 1000000.0
                         / count(*))::BIGINT AS common_ppm
            FROM sh JOIN dfreq USING (shingle)
            GROUP BY sh.id
        """)
def _q_ngram_commonness(spark, sf_dir):
    """Per-doc trigram commonness / boilerplate score
    (functions/curate.py ngram_commonness): share of each document's
    distinct trigrams appearing in >= 5 docs — integer-exact, one
    shingle-keyed join, one doc rollup; the same shingle CTE as the
    Jaccard family oracles."""

    d = read(spark, sf_dir, "documents")
    return ngram_commonness(d, n=3, common_df=5)


@query(oracle="""
            WITH base AS (
              SELECT doc_id AS id,
                     CAST(round(CAST(n_chars AS DOUBLE) * 1, 0)
                          AS BIGINT) AS score_q
              FROM documents WHERE n_chars IS NOT NULL
            ),
            cnt AS (
              SELECT score_q, count(*)::BIGINT AS c
              FROM base GROUP BY score_q
            ),
            staged AS (
              SELECT score_q,
                     least(3, CAST(floor(cb * 4 / n) AS INTEGER))
                       AS stage
              FROM (
                SELECT score_q, c,
                  coalesce(sum(c) OVER (ORDER BY score_q ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb,
                  sum(c) OVER () AS n
                FROM cnt
              )
            )
            SELECT b.id, b.score_q, s.stage,
                   md5(CAST(b.id AS VARCHAR)) AS sort_key
            FROM base b JOIN staged s USING (score_q)
        """)
def _q_curriculum(spark, sf_dir):
    """Curriculum schedule over the corpus (functions/curate.py
    curriculum_stages): 4 equal-frequency difficulty stages by doc
    length with tie-stable integer stage assignment and md5 shuffle
    keys — the two columns a curriculum loader range-partitions on;
    no global rank is ever materialized."""

    d = read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_stages(
        d, "doc_id", "n_chars", n_stages=4, quantize=0
    )


# rows-only: zlib is deterministic but not SQL-expressible
@query(
    pin="tests/test_curate.py::test_compression_ratio_separates_template_from_noise"
)
def _q_compression_ratio(spark, sf_dir):
    """Per-doc zlib redundancy gate (curate.compression_ratio): deflate
    bytes / utf8 bytes — the all-orders repetition signal (templated
    pages compress hard, noise doesn't). Rows-only BY DESIGN: zlib is
    deterministic but not SQL-expressible; value pins live in
    tests/test_curate.py with hand-built high/low-redundancy docs."""

    d = read(spark, sf_dir, "documents")
    return compression_ratio(d)


@query(oracle="""
            WITH base AS (
              SELECT c_nationkey, c_mktsegment,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_kb
              FROM customer
            ),
            cells AS (
              SELECT c_nationkey, c_mktsegment, bal_kb,
                     count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2, 3
            )
            SELECT c_nationkey, c_mktsegment,
                   sum(c)::BIGINT AS n,
                   count(*)::BIGINT AS n_sensitive,
                   (count(*) < 3) AS at_risk
            FROM cells GROUP BY 1, 2
        """)
def _q_l_diversity(spark, sf_dir):
    """L-diversity audit over (nation, segment) with the thousand-
    dollar balance bucket as the sensitive attribute
    (functions/curate.py l_diversity_report) — the attribute-disclosure
    companion to q_k_anonymity: a combo whose members all share one
    bucket leaks it under linkage even when k-anonymous."""

    c = read(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    return l_diversity_report(
        c, ("c_nationkey", "c_mktsegment"), "bal_kb", l=3
    )


@query(oracle="""
            WITH base AS (
              SELECT c_nationkey AS g1, c_mktsegment AS g2,
                     CAST(floor(c_acctbal / 1000) AS BIGINT) AS v
              FROM customer
            ),
            cells AS (
              SELECT g1, g2, v, count(*)::BIGINT AS c
              FROM base GROUP BY 1, 2, 3
            ),
            vals AS (SELECT v, sum(c)::BIGINT AS cv FROM cells GROUP BY v),
            grp AS (
              SELECT g1, g2, sum(c)::BIGINT AS ng FROM cells GROUP BY 1, 2
            ),
            tot AS (SELECT sum(cv)::BIGINT AS nn FROM vals),
            grid AS (
              SELECT grp.g1, grp.g2, grp.ng, vals.v, vals.cv,
                     coalesce(cells.c, 0) AS c
              FROM grp CROSS JOIN vals
              LEFT JOIN cells ON cells.g1 = grp.g1
                             AND cells.g2 = grp.g2
                             AND cells.v = vals.v
            ),
            cums AS (
              SELECT g1, g2, ng, v,
                     sum(c) OVER w AS cg, sum(cv) OVER w AS ct
              FROM grid
              WINDOW w AS (PARTITION BY g1, g2 ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)
            ),
            run AS (
              SELECT g1, g2, ng, v,
                     lag(v) OVER o AS v_prev,
                     lag(cg) OVER o AS pg,
                     lag(ct) OVER o AS pt
              FROM cums
              WINDOW o AS (PARTITION BY g1, g2 ORDER BY v)
            ),
            per_g AS (
              SELECT g1, g2, nn, max(ng) AS ng,
                     sum(CASE WHEN v_prev IS NOT NULL THEN
                       abs(pg::HUGEINT * nn::HUGEINT
                           - pt::HUGEINT * ng::HUGEINT)
                       * (v - v_prev)::HUGEINT END) AS emd_int
              FROM run, tot GROUP BY g1, g2, nn
            )
            SELECT c_nationkey, c_mktsegment, n, t_q6,
                   t_q6 > 0.5 AS at_risk
            FROM (
              SELECT g1 AS c_nationkey, g2 AS c_mktsegment,
                     ng::BIGINT AS n,
                     floor(coalesce(emd_int, 0)::DOUBLE
                           / (ng::DOUBLE * nn::DOUBLE * 1.0)
                           * 1e6) / 1e6 AS t_q6
              FROM per_g
            )
        """)
def _q_t_closeness(spark, sf_dir):
    """T-closeness audit over (nation, segment) with the thousand-
    dollar balance bucket as the sensitive numeric attribute
    (functions/curate.py t_closeness_report) — the distribution-level
    gate above q_l_diversity: per-combo 1-D Wasserstein distance to
    the global bucket distribution via the exact DECIMAL step
    construction, one ordered window per combo over the dense
    combo x value grid."""

    c = read(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_kb"),
    )
    return t_closeness_report(
        c, ("c_nationkey", "c_mktsegment"), "bal_kb", t=0.5
    )


@query(oracle="""
            WITH base AS (
              SELECT doc_id AS id, n_chars::BIGINT AS len,
                     CAST(floor(n_chars * 150 / (1000 * 20))
                          AS BIGINT) AS k
              FROM documents
              WHERE floor(n_chars * 150 / (1000 * 20)) > 0
                AND n_chars >= 20
            ),
            spans AS (
              SELECT id, len, unnest(range(k)) AS span_idx FROM base
            )
            SELECT id, span_idx,
                   (('0x' || substring(
                       md5(id::VARCHAR || ':' || span_idx::VARCHAR),
                       1, 12))::BIGINT % (len - 20 + 1)) AS start,
                   20::BIGINT AS length
            FROM spans
        """)
def _q_span_corruption(spark, sf_dir):
    """T5-style deterministic span-corruption plan over documents
    (functions/curate.py span_corruption_plan): spans are a pure
    md5 function of (doc_id, span_idx) — reproducible across re-runs
    and engines; map-only sequence explode, zero shuffle."""

    d = read(spark, sf_dir, "documents")
    return span_corruption_plan(
        d, "doc_id", "n_chars", mask_permille=150, span_len=20
    )


@query(oracle="""
            WITH counts AS (
              SELECT source, count(*)::BIGINT AS n_true
              FROM documents GROUP BY source
            ),
            u_ AS (
              SELECT source, n_true,
                ((CAST(('0x' || substring(
                    md5('dp0' || chr(31) || source), 1, 15)) AS BIGINT)
                  % 1000000000000)::DOUBLE + 0.5) / 1e12 AS u
              FROM counts
            )
            SELECT source, n_true,
              floor(greatest(0.0,
                n_true::DOUBLE
                + (-(1.0 / 1.0)) * sign(u - 0.5)
                  * ln(1.0 - 2.0 * abs(u - 0.5))) * 1e6) / 1e6
                AS released_q6
            FROM u_
        """)
def _q_dp_counts(spark, sf_dir):
    """Laplace-mechanism released per-source document counts, eps=1
    (functions/curate.py dp_group_counts): seeded md5-uniform ->
    inverse-CDF Laplace noise, clamp at 0 — the privacy-budgeted
    release shape over the q_k_anonymity partitions. Seeding is for
    the cross-engine check; production draws fresh randomness."""

    d = read(spark, sf_dir, "documents")
    return dp_group_counts(d, ("source",), eps_num=1, eps_den=1)


@query(oracle="""
            WITH base AS (
              SELECT o_orderpriority AS st,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            agg AS (
              SELECT st, count(*)::BIGINT AS n_rows,
                sum(v)::BIGINT AS s,
                sum(CAST(v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ss
              FROM base GROUP BY st
            ),
            w_ AS (
              SELECT st, n_rows,
                CASE WHEN n_rows > 1 THEN
                  sqrt(greatest(0.0,
                    (ss::DOUBLE - s::DOUBLE
                       * (s::DOUBLE / n_rows::DOUBLE))
                    / (n_rows::DOUBLE - 1.0)))
                ELSE 0.0 END AS sd
              FROM agg
            ),
            w2 AS (
              SELECT st, n_rows, sd / 100.0 AS sdq,
                     n_rows::DOUBLE * sd AS w
              FROM w_
            ),
            cum AS (
              SELECT st, n_rows, sdq, w,
                sum(w) OVER (ORDER BY st ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS cw,
                row_number() OVER (ORDER BY st) AS rn,
                count(*) OVER () AS k
              FROM w2
            ),
            wtot AS (SELECT cw AS wt FROM cum WHERE rn = k)
            SELECT st AS o_orderpriority, n_rows,
              floor(sdq * 1e6) / 1e6 AS sd_q6,
              floor((CASE WHEN wt > 0 THEN w / wt ELSE 0.0 END) * 1e6)
                / 1e6 AS alloc_frac_q6,
              CAST(floor(10000.0 * (CASE WHEN wt > 0 THEN w / wt
                                    ELSE 0.0 END)) AS BIGINT)
                AS n_alloc
            FROM cum, wtot
        """)
def _q_neyman(spark, sf_dir):
    """Neyman sample allocation of a 10k-row audit budget across
    order priorities by totalprice spread (functions/curate.py
    neyman_allocation): n_h ~ N_h * S_h, the minimum-variance
    stratified design. DECIMAL(38,0) moment sums; the denominator
    folds in fixed stratum order."""

    o = read(spark, sf_dir, "orders")
    return neyman_allocation(
        o, ("o_orderpriority",), "o_totalprice", total_n=10000,
        quantize=2,
    )


@query(oracle="""
            WITH samp AS (
              SELECT source,
                CAST(round(n_chars::DOUBLE * 1, 0) AS BIGINT) AS v
              FROM documents
              WHERE (CAST(('0x' || substring(
                       md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                     % 5) < 1
            ),
            sa AS (
              SELECT source, count(*)::BIGINT AS n,
                sum(v)::BIGINT AS s,
                sum(CAST(v AS DECIMAL(38,0))
                    * CAST(v AS DECIMAL(38,0))) AS ss
              FROM samp GROUP BY source
            ),
            pop AS (
              SELECT source, count(*)::BIGINT AS np
              FROM documents GROUP BY source
            ),
            j AS (
              SELECT sa.source AS source, n, s, ss, np
              FROM sa JOIN pop ON sa.source = pop.source
            ),
            miss AS (
              SELECT count(*)::BIGINT AS n_unsampled,
                coalesce(sum(np), 0)::BIGINT AS np_missing
              FROM pop LEFT JOIN sa ON pop.source = sa.source
              WHERE sa.source IS NULL
            ),
            tots AS (
              SELECT sum(np)::BIGINT AS npop, sum(n)::BIGINT AS nsamp
              FROM j
            ),
            terms AS (
              SELECT source, n, npop, nsamp,
                np::DOUBLE / npop::DOUBLE * (s::DOUBLE / n::DOUBLE)
                  AS est_term,
                CASE WHEN n > 1 THEN
                  (np::DOUBLE / npop::DOUBLE)
                  * (np::DOUBLE / npop::DOUBLE)
                  * (1.0 - n::DOUBLE / np::DOUBLE)
                  * (((ss::DOUBLE - s::DOUBLE
                        * (s::DOUBLE / n::DOUBLE))
                      / (n::DOUBLE - 1.0)) / n::DOUBLE)
                ELSE 0.0 END AS se_term
              FROM j, tots
            ),
            stepped AS (
              SELECT npop, nsamp,
                sum(est_term) OVER (ORDER BY source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS est,
                sum(se_term) OVER (ORDER BY source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sev,
                sum(CASE WHEN n < 2 THEN 1 ELSE 0 END)
                  OVER ()::BIGINT AS thin,
                row_number() OVER (ORDER BY source) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT nsamp AS n_sample, npop AS n_pop,
              k::BIGINT AS k_strata, thin AS n_thin,
              n_unsampled, np_missing AS n_pop_missing,
              floor(est / 1.0 * 1e6) / 1e6 AS est_q6,
              floor(sqrt(sev) / 1.0 * 1e6) / 1e6 AS se_q6
            FROM stepped, miss WHERE rn = k
        """)
def _q_stratified_est(spark, sf_dir):
    """Design-based corpus-mean estimate from a 20% hash-sampled
    audit, stratified by source (functions/curate.py
    stratified_estimate): est +- fpc-corrected SE against known
    population stratum counts — the read-out side of a q_neyman-
    planned q_hash-style draw. Cross-stratum sums fold in fixed
    stratum order."""

    d = read(spark, sf_dir, "documents")
    samp = d.filter(hash_sample(d, "doc_id", 1, 5))
    pop = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_pop")
    )
    return stratified_estimate(
        samp, pop, ("source",), "n_chars", quantize=0
    )


@query(oracle="""
            WITH cnt AS (
              SELECT lang AS grp, CAST(source AS VARCHAR) AS i,
                count(*)::BIGINT AS c
              FROM documents WHERE source IS NOT NULL
              GROUP BY lang, source
            ),
            wide AS (
              SELECT grp, i, c,
                sum(c) OVER (PARTITION BY grp)::BIGINT AS n,
                sum(CAST(c AS DECIMAL(38,0))
                    * CAST(c - 1 AS DECIMAL(38,0)))
                  OVER (PARTITION BY grp) AS spair,
                max(c) OVER (PARTITION BY grp)::BIGINT AS cmax,
                count(*) OVER (PARTITION BY grp)::BIGINT AS k
              FROM cnt
            ),
            stepped AS (
              SELECT grp, n, spair, cmax, k,
                sum((c::DOUBLE / n::DOUBLE)
                    * ln(n::DOUBLE / c::DOUBLE))
                  OVER (PARTITION BY grp ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS h,
                row_number() OVER (PARTITION BY grp ORDER BY i) AS rn
              FROM wide
            )
            SELECT grp AS lang, n AS n_rows, k AS k_items,
              floor(h * 1e6) / 1e6 AS shannon_q6,
              CASE WHEN k > 1 THEN
                floor(h / ln(k::DOUBLE) * 1e6) / 1e6
              END AS evenness_q6,
              CASE WHEN n > 1 THEN
                floor(spair::DOUBLE
                      / (n::DOUBLE * (n::DOUBLE - 1.0)) * 1e6) / 1e6
              END AS simpson_q6,
              CASE WHEN n > 1 THEN
                floor((1.0 - spair::DOUBLE
                       / (n::DOUBLE * (n::DOUBLE - 1.0))) * 1e6) / 1e6
              END AS gini_simpson_q6,
              floor(cmax::DOUBLE / n::DOUBLE * 1e6) / 1e6
                AS berger_parker_q6
            FROM stepped WHERE rn = k
            ORDER BY lang
        """)
def _q_diversity(spark, sf_dir):
    """Per-language source-diversity card (functions/curate.py
    diversity_card): Shannon/evenness, unbiased Simpson/Gini-Simpson,
    Berger-Parker dominance — the mixture-health read next to
    q_mix_divergence. Shannon folds in fixed item order (stepped
    window); Simpson numerator and dominance BIGINT-exact."""

    d = read(spark, sf_dir, "documents")
    return diversity_card(d, "lang", "source").orderBy("lang")


@query(oracle="""
            WITH obs AS (
              SELECT lang AS grp, count(*)::BIGINT AS n
              FROM documents WHERE lang IS NOT NULL GROUP BY lang
            ),
            t AS (
              SELECT * FROM (VALUES ('de', 2), ('en', 4), ('es', 2),
                                    ('fr', 1), ('zh', 1)) x(grp, w)
            ),
            j AS (
              SELECT coalesce(obs.grp, t.grp) AS grp,
                coalesce(n, 0) AS n, w
              FROM obs FULL OUTER JOIN t ON obs.grp = t.grp
            ),
            tot AS (
              SELECT sum(CASE WHEN w IS NOT NULL THEN n END)::BIGINT
                       AS nm,
                coalesce(sum(CASE WHEN w IS NULL THEN n END),
                         0)::BIGINT AS nu
              FROM j
            ),
            cells AS (
              SELECT grp, n, w, nm, nu FROM j, tot WHERE w IS NOT NULL
            ),
            terms AS (
              SELECT grp, nm, nu,
                CASE WHEN n > 0 THEN
                  (n::DOUBLE / nm::DOUBLE)
                  * ln((n::DOUBLE / nm::DOUBLE) / (w::DOUBLE / 10.0))
                ELSE 0.0 END AS klt,
                abs(n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0) / 2.0
                  AS tvt,
                (n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0)
                  * (n::DOUBLE / nm::DOUBLE - w::DOUBLE / 10.0)
                  / (w::DOUBLE / 10.0) AS c2t
              FROM cells
            ),
            stepped AS (
              SELECT nm, nu,
                sum(klt) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS kl,
                sum(tvt) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS tv,
                sum(c2t) OVER (ORDER BY grp ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS c2,
                row_number() OVER (ORDER BY grp) AS rn,
                count(*) OVER () AS k
              FROM terms
            )
            SELECT nm AS n, k::BIGINT AS k_groups, nu AS n_unmatched,
              floor(kl * 1e6) / 1e6 AS kl_q6,
              floor(tv * 1e6) / 1e6 AS tv_q6,
              floor(c2 * 1e6) / 1e6 AS chi2n_q6
            FROM stepped WHERE rn = k
        """)
def _q_mix_divergence(spark, sf_dir):
    """KL/TV/chi2 divergence of the language mixture from the designed
    4:2:2:1:1 training mix (functions/curate.py mixture_divergence) —
    the post-materialization drift gate next to q_mix_weights. Exact
    rational shares; the three sums fold over the 5-row language
    table in fixed order."""

    d = read(spark, sf_dir, "documents")
    return mixture_divergence(
        d, "lang", {"en": 4, "de": 2, "es": 2, "fr": 1, "zh": 1}
    )
