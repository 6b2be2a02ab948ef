"""Driver queries over ``functions/text.py`` (text normalization and analysis)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import curate, text
from png_from_pdf_extracter_spark.functions.curate import pack_efficiency
from png_from_pdf_extracter_spark.functions.text import (
    C1_PATTERN,
    MOJI_SUFFIX,
    MOJIBAKE_PATTERN,
    REPLACEMENT_CHAR,
    encoding_health,
    lexical_richness,
    script_profile,
    token_count,
    tokens,
)
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import (
    FP_SQL,
    LANG_CASE,
    NSTOP_SQL,
    NTOK_SQL,
    QUALITY_SQL,
    TOKEN_RE_SQL,
    read,
)


def _with_reingest_mangled(d: DataFrame) -> DataFrame:
    """Re-ingest slice with whitespace-mangled text (double spaces, padded
    ends): byte-unequal to the original, fingerprint-equal after the
    normalize-exactly-once chain — so the fingerprint oracle proves the
    normalization, not just grouping."""
    base = d.select("doc_id", "text")
    re = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
    )
    return base.unionByName(re)


_SANITIZE_SQL = (
    "regexp_replace(regexp_replace(substring(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace({col}, '\\.[^.]*$', ''), "
    "'[^a-zA-Z0-9_-]', '_', 'g'), '_+', '_', 'g'), '^_+|_+$', '', 'g'), "
    "1, 50), '^_+|_+$', '', 'g'), '^$', 'unnamed')"
)

_ENC_HEALTH_SQL = f"""
        WITH d AS (
          SELECT source,
                 CASE WHEN doc_id % 7 = 0 THEN text || '{MOJI_SUFFIX}'
                      ELSE text END AS text
          FROM documents
        ),
        h AS (
          SELECT source,
                 len(regexp_extract_all(text, '{MOJIBAKE_PATTERN}'))
                   AS moji,
                 len(regexp_extract_all(text, '{REPLACEMENT_CHAR}'))
                   AS repl,
                 len(regexp_extract_all(text, '{C1_PATTERN}')) AS c1
          FROM d
        )
        SELECT source, count(*)::BIGINT AS n_docs,
          sum(CASE WHEN moji > 0 OR repl > 0 OR c1 > 0
                   THEN 1 ELSE 0 END)::BIGINT AS suspect_docs,
          sum(moji)::BIGINT AS moji_marks,
          sum(repl)::BIGINT AS repl_chars,
          sum(c1)::BIGINT AS c1_chars
        FROM h GROUP BY source
    """


@query(oracle="SELECT p_partkey, "
    + _SANITIZE_SQL.format(col="p_name")
    + " AS clean_name FROM part")
def _q_sanitize(spark, sf_dir):
    p = read(spark, sf_dir, "part")
    return p.select(
        "p_partkey", text.sanitize_name("p_name").alias("clean_name")
    )


@query(oracle=f"""
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ' AS text
              FROM documents WHERE doc_id % 5 = 0
            )
            SELECT {FP_SQL} AS fp, min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM ingested GROUP BY {FP_SQL} HAVING count(*) > 1
        """)
def _q_fingerprint(spark, sf_dir):
    d = _with_reingest_mangled(read(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", text.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


@query(oracle="""
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ' AS text
              FROM documents WHERE doc_id % 5 = 0
            ),
            fps AS (
              SELECT doc_id,
                     list_reduce(
                       list_prepend(0::BIGINT,
                         list_transform(
                           string_split(lower(trim(
                             regexp_replace(text, '\\s+', ' ', 'g'))), ''),
                           ch -> ascii(ch)::BIGINT)),
                       (acc, code) -> (acc * 31 + code) % 1000000007
                     ) AS fp
              FROM ingested
            )
            SELECT fp, min(doc_id) AS keep_id, count(*) AS n_dupes
            FROM fps GROUP BY fp HAVING count(*) > 1
        """)
def _q_rolling_fp(spark, sf_dir):
    """Rolling-hash document fingerprint (text.rolling_fingerprint):
    the Rabin-Karp polynomial form of q_fingerprint — all-integer fold,
    bit-exact across engines; the same planted whitespace-mangled
    re-ingest dupes prove the normalize-then-hash grouping."""
    d = _with_reingest_mangled(read(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", text.rolling_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dupes"))
        .filter(F.col("n_dupes") > 1)
    )


@query(oracle=f"""
            WITH per AS (
              SELECT source,
                     sum(length(regexp_extract_all(text,
                       '{TOKEN_RE_SQL}')))::BIGINT AS tokens
              FROM documents GROUP BY source
            )
            SELECT source, tokens,
                   round(tokens::DOUBLE / sum(tokens) OVER (), 6)
                     AS actual_share,
                   round(1.0::DOUBLE / count(*) OVER (), 6) AS target_share,
                   round((1.0::DOUBLE / count(*) OVER ())
                     / (tokens::DOUBLE / sum(tokens) OVER ()), 6) AS weight
            FROM per
        """)
def _q_mix_weights(spark, sf_dir):
    """Source mixing weights for a training data mix: per-source token
    share and the uniform-target sampling weight."""
    d = read(spark, sf_dir, "documents")
    return curate.source_mix_weights(
        d.select("source", text.token_count("text").alias("n_tokens")),
        "source",
        "n_tokens",
    )


@query(oracle=f"""
            SELECT lang, {LANG_CASE} AS detected, count(*) AS n
            FROM documents GROUP BY lang, {LANG_CASE}
        """)
def _q_lang_id(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return (
        d.select("lang", text.lang_id("text").alias("detected"))
        .groupBy("lang", "detected")
        .agg(F.count("*").alias("n"))
    )


@query(oracle=f"""
            SELECT doc_id,
                   {NTOK_SQL} AS n_tokens,
                   {QUALITY_SQL} AS quality,
                   {NSTOP_SQL} AS n_stopwords
            FROM documents WHERE doc_id < 200
        """)
def _q_quality_tokens(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 200).select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.quality_score("text").alias("quality"),
        text.stopword_hits("text").alias("n_stopwords"),
    )


@query(oracle="""
            SELECT doc_id,
                   array_to_string(list_filter(list_transform(
                     string_split(concat_ws(';', source, ' padded ', '', lang), ';'),
                     x -> trim(x)), x -> length(x) > 0), '|') AS cc_joined
            FROM documents WHERE doc_id < 100
        """)
def _q_cc_split(spark, sf_dir):
    """Array split/trim/filter chain (ref config.py:142-143) over a derived
    semicolon list."""
    d = read(spark, sf_dir, "documents")
    lst = F.concat_ws(
        ";", F.col("source"), F.lit(" padded "), F.lit(""), F.col("lang")
    )
    return d.filter(F.col("doc_id") < 100).select(
        "doc_id", F.array_join(text.cc_split(lst), "|").alias("cc_joined")
    )


@query(oracle=f"""
            WITH base AS (
              SELECT source, doc_id, {NTOK_SQL}::BIGINT AS n_tok FROM documents
            ),
            p AS (
              SELECT source, doc_id, n_tok,
                     CAST(floor(coalesce(sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 2000.0) AS INTEGER) AS seq_idx
              FROM base
            )
            SELECT source, seq_idx, count(*) AS n_docs,
                   sum(n_tok)::BIGINT AS seq_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM p GROUP BY source, seq_idx
        """)
def _q_seq_pack(spark, sf_dir):
    """Training-sequence packing (curate.sequence_pack): docs concatenated
    per source in doc_id order, cut every 2000 tokens; per-sequence
    rollup."""
    d = read(spark, sf_dir, "documents")
    base = d.select(
        "source", "doc_id", text.token_count("text").alias("n_tok")
    )
    packed = curate.sequence_pack(
        base, "source", "doc_id", "n_tok", target_tokens=2000
    )
    return packed.groupBy("source", "seq_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@query(oracle=f"""
            WITH v1 AS (
              SELECT doc_id, {FP_SQL} AS fp1 FROM documents
              WHERE doc_id % 13 <> 5
            ),
            v2 AS (
              SELECT doc_id,
                     md5(lower(trim(regexp_replace(
                       CASE WHEN doc_id % 7 = 0
                            THEN text || ' [edited]' ELSE text END,
                       '\\s+', ' ', 'g')))) AS fp2
              FROM documents WHERE doc_id % 11 <> 3
            )
            SELECT CASE WHEN fp1 IS NULL THEN 'added'
                        WHEN fp2 IS NULL THEN 'removed'
                        WHEN fp1 <> fp2 THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   count(*) AS n_docs
            FROM v1 FULL OUTER JOIN v2 USING (doc_id)
            GROUP BY change
        """)
def _q_corpus_diff(spark, sf_dir):
    """Incremental-ingest snapshot diff: two corpus versions are derived
    deterministically (v2 drops doc_id%11==3, adds nothing new here but
    mangles text for doc_id%7==0), full-outer-joined on doc_id, and every
    doc classified added/removed/changed/unchanged by normalized
    fingerprint — the change-data report an incremental 100 TB pipeline
    emits per ingest. One shuffle (the join); the classify+count is
    map-side combinable."""
    d = read(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.filter((F.col("doc_id") % 13) != 5)
    v2 = d.filter((F.col("doc_id") % 11) != 3).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 7) == 0,
            F.concat(F.col("text"), F.lit(" [edited]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    f1 = v1.select("doc_id", text.fingerprint("text").alias("fp1"))
    f2 = v2.select("doc_id", text.fingerprint("text").alias("fp2"))
    j = f1.join(f2, "doc_id", "full_outer")
    cls = (
        F.when(F.col("fp1").isNull(), "added")
        .when(F.col("fp2").isNull(), "removed")
        .when(F.col("fp1") != F.col("fp2"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(cls.alias("change"))
        .groupBy("change")
        .agg(F.count("*").alias("n_docs"))
    )


@query(oracle=f"""
            WITH u AS (
              SELECT doc_id, text, source FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ', source
              FROM documents WHERE doc_id % 5 = 0
            ),
            f AS (SELECT source, {FP_SQL} AS fp FROM u)
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT fp) AS n_distinct,
                   round(1.0 - count(DISTINCT fp)::DOUBLE / count(*), 4)
                     AS dup_ratio
            FROM f GROUP BY source
        """)
def _q_dedup_ratio(spark, sf_dir):
    """Per-source duplication-rate report over the mangled re-ingest
    union (the dedup family's summary/reporting face): docs seen,
    distinct normalized fingerprints, dup ratio. Exactly one combinable
    shuffle (count-distinct pre-aggregates on (source, fp))."""
    d = read(spark, sf_dir, "documents")
    re = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "),
            F.regexp_replace(F.col("text"), " ", "  "),
            F.lit(" "),
        ).alias("text"),
        "source",
    )
    u = d.select("doc_id", "text", "source").unionByName(re)
    fp = u.select("source", text.fingerprint("text").alias("fp"))
    return fp.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        F.round(
            F.lit(1.0) - F.countDistinct("fp") / F.count("*"), 4
        ).alias("dup_ratio"),
    )


@query(oracle="""
            WITH m AS (
              SELECT doc_id,
                     len(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       t -> length(t) > 0))::BIGINT AS n_words,
                     greatest(length(regexp_extract_all(text, '[.!?]+')),
                              1)::BIGINT AS n_sentences,
                     length(regexp_extract_all(lower(text),
                              '[aeiouy]+'))::BIGINT AS n_syllables
              FROM documents
            ),
            f AS (
              SELECT *,
                     CASE WHEN n_words > 0 THEN
                       floor((206.835
                              - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                              - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
                             * 10000) / 10000
                     END AS flesch
              FROM m
            )
            SELECT doc_id, n_words, n_sentences, n_syllables, flesch,
                   CASE WHEN flesch >= 60 THEN 'easy'
                        WHEN flesch >= 30 THEN 'medium'
                        WHEN flesch IS NOT NULL THEN 'hard'
                   END AS band
            FROM f
        """)
def _q_readability(spark, sf_dir):
    """Flesch reading-ease readability gate (functions/text.py
    flesch_reading_ease — vowel-group syllable estimator, floor-4dp
    score) with a banded difficulty class; map-only, whole-stage
    codegen, the shape of every corpus-wide readability filter."""
    d = read(spark, sf_dir, "documents")
    fre = text.flesch_reading_ease("text")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text")))
        .cast("long")
        .alias("n_words"),
        text.sentence_count("text").alias("n_sentences"),
        text.syllable_count("text").alias("n_syllables"),
        fre.alias("flesch"),
        F.when(fre >= 60, F.lit("easy"))
        .when(fre >= 30, F.lit("medium"))
        .when(fre.isNotNull(), F.lit("hard"))
        .alias("band"),
    )


@query(oracle=_ENC_HEALTH_SQL)
def _q_encoding_health(spark, sf_dir):
    """Per-source encoding-damage rollup (functions/text.py
    encoding_health): mojibake-mark / replacement-char / C1-control
    counts and suspect-doc counts. The corpus is clean by construction,
    so docs with doc_id % 7 == 0 get a deterministic mojibake suffix
    injected via plain SQL concat (both engines apply the identical
    injection) — the detector must flag exactly those."""

    d = read(spark, sf_dir, "documents").select(
        "source",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(MOJI_SUFFIX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    h = d.select("source", *encoding_health("text"))
    return h.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("enc_suspect").cast("int")).cast("long").alias(
            "suspect_docs"
        ),
        F.sum("moji_marks").cast("long").alias("moji_marks"),
        F.sum("repl_chars").cast("long").alias("repl_chars"),
        F.sum("c1_chars").cast("long").alias("c1_chars"),
    )


@query(oracle="""
            WITH c AS (
              SELECT doc_id,
                     length(text)::BIGINT AS n_chars_total,
                     (length(text) - length(regexp_replace(text,
                        '[A-Za-zÀ-ɏ]', '', 'g')))::BIGINT AS n_latin,
                     (length(text) - length(regexp_replace(text,
                        '[Ѐ-ӿ]', '', 'g')))::BIGINT AS n_cyrillic,
                     (length(text) - length(regexp_replace(text,
                        '[Ͱ-Ͽ]', '', 'g')))::BIGINT AS n_greek,
                     (length(text) - length(regexp_replace(text,
                        '[؀-ۿ]', '', 'g')))::BIGINT AS n_arabic,
                     (length(text) - length(regexp_replace(text,
                        '[ऀ-ॿ]', '', 'g')))::BIGINT AS n_devanagari,
                     (length(text) - length(regexp_replace(text,
                        '[一-鿿぀-ヿ]', '', 'g')))::BIGINT AS n_cjk,
                     (length(text) - length(regexp_replace(text,
                        '[가-힯ᄀ-ᇿ]', '', 'g')))::BIGINT AS n_hangul,
                     (length(text) - length(regexp_replace(text,
                        '[0-9]', '', 'g')))::BIGINT AS n_digit,
                     (length(text) - length(regexp_replace(text,
                        '[ \t\r\n]', '', 'g')))::BIGINT AS n_space
              FROM documents WHERE doc_id < 500
            )
            SELECT doc_id, n_chars_total, n_latin, n_cyrillic, n_greek,
                   n_arabic, n_devanagari, n_cjk, n_hangul, n_digit,
                   n_space,
                   (n_chars_total - n_latin - n_cyrillic - n_greek
                    - n_arabic - n_devanagari - n_cjk - n_hangul
                    - n_digit - n_space)::BIGINT AS n_other,
                   CASE
                     WHEN greatest(n_latin, n_cyrillic, n_greek,
                                   n_arabic, n_devanagari, n_cjk,
                                   n_hangul) = 0 THEN 'none'
                     WHEN n_latin = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'latin'
                     WHEN n_cyrillic = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'cyrillic'
                     WHEN n_greek = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'greek'
                     WHEN n_arabic = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'arabic'
                     WHEN n_devanagari = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'devanagari'
                     WHEN n_cjk = greatest(n_latin, n_cyrillic,
                          n_greek, n_arabic, n_devanagari, n_cjk,
                          n_hangul) THEN 'cjk'
                     ELSE 'hangul'
                   END AS dominant
            FROM c
        """)
def _q_script_profile(spark, sf_dir):
    """Unicode script profile per document (functions/text.py
    script_profile): per-block char counts via explicit CODEPOINT
    RANGES (never named properties — Java regex and RE2 disagree on
    edge blocks), dominant script with fixed tie precedence; map-only,
    zero shuffle."""

    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return script_profile(d, "text", ("doc_id",))


@query(oracle="""
            WITH toks AS (
              SELECT source, unnest(list_filter(
                       regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> length(t) > 0)) AS t
              FROM documents
            ),
            tc AS (
              SELECT source, t, count(*)::BIGINT AS f
              FROM toks GROUP BY source, t
            ),
            agg AS (
              SELECT source,
                sum(f)::BIGINT AS n_tokens,
                count(*)::BIGINT AS v_types,
                sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)::BIGINT AS v1,
                sum(CASE WHEN f = 2 THEN 1 ELSE 0 END)::BIGINT AS v2,
                sum(f * f)::BIGINT AS s2
              FROM tc GROUP BY source
            ),
            d AS (
              SELECT source, n_tokens, v_types, v1, v2,
                n_tokens::DOUBLE AS n, v_types::DOUBLE AS v,
                v1::DOUBLE AS v1d, v2::DOUBLE AS v2d, s2::DOUBLE AS s2d
              FROM agg
            )
            SELECT source, n_tokens, v_types, v1, v2,
              floor(1e4 * (s2d - n) / (n * n) * 1e6) / 1e6
                AS yules_k_q6,
              floor(v / sqrt(n) * 1e6) / 1e6 AS guiraud_q6,
              floor(ln(v) / ln(n) * 1e6) / 1e6 AS herdan_q6,
              CASE WHEN v1 < v_types THEN
                floor(100.0 * ln(n) / (1.0 - v1d / v) * 1e6) / 1e6
              END AS honore_q6,
              floor(v2d / v * 1e6) / 1e6 AS sichel_q6,
              floor((s2d - n) / (n * (n - 1.0)) * 1e6) / 1e6
                AS simpson_q6,
              floor((v + v1d * (v1d - 1.0) / (2.0 * (v2d + 1.0)))
                    * 1e6) / 1e6 AS chao1_q6
            FROM d
        """)
def _q_lexical_richness(spark, sf_dir):
    """Lexical-richness battery per source (functions/text.py
    lexical_richness): Yule's K, Guiraud R, Herdan C, Honore R,
    Sichel S, lexical Simpson, bias-corrected Chao1 — the
    vocabulary-shape card next to q_vocab_growth's Heaps curve. Five
    BIGINTs per source (N, V, V1, V2, sum f^2) feed one float emit
    each; two combinable shuffles."""

    return lexical_richness(
        read(spark, sf_dir, "documents"), "text", ("source",)
    )


@query(oracle="""
            WITH base AS (
              SELECT source, doc_id,
                length(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_tok
              FROM documents
            ),
            p AS (
              SELECT source, doc_id, n_tok,
                     CAST(floor(coalesce(sum(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0) / 2000.0) AS INTEGER) AS seq_idx
              FROM base
            ),
            per_seq AS (
              SELECT source, seq_idx, count(*)::BIGINT AS d,
                     sum(n_tok)::BIGINT AS t
              FROM p GROUP BY source, seq_idx
            ),
            agg AS (
              SELECT source, sum(d)::BIGINT AS n_docs,
                count(*)::BIGINT AS n_seqs,
                sum(t)::BIGINT AS total_tokens,
                sum(CASE WHEN t > 2000 THEN 1 ELSE 0 END)::BIGINT
                  AS n_over,
                sum(CASE WHEN t < 2000 THEN 1 ELSE 0 END)::BIGINT
                  AS n_under
              FROM per_seq GROUP BY source
            )
            SELECT source, n_docs, n_seqs, total_tokens,
              floor(total_tokens::DOUBLE
                    / (n_seqs::DOUBLE * 2000.0) * 1e6) / 1e6
                AS fill_q6,
              n_over, n_under
            FROM agg
        """)
def _q_pack_efficiency(spark, sf_dir):
    """Packing-efficiency report for q_seq_pack's 2000-token
    sequences (functions/curate.py pack_efficiency): per-source fill
    factor plus overflow/underfull sequence counts — the padding-waste
    read before a training run. Integer sums over the (key, seq)
    rollup."""

    d = read(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    return pack_efficiency(d, "source", "doc_id", "n_tok", 2000)
