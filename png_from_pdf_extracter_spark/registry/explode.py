"""Builtin-only driver queries: explode / flatten over document words
(SURVEY.md §2.3)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            WITH ex AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) + 1),
                            i -> {'pos': i, 'word': w[i]})) AS u
              FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
                    FROM documents)
            )
            SELECT doc_id,
                   string_agg(u.word, ' ' ORDER BY u.pos) AS reassembled,
                   count(*) AS n_words
            FROM ex WHERE u.word <> 'the'
            GROUP BY doc_id
        """)
def _q_explode_reassembly(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    wds = F.split(F.trim(F.col("text")), r"\s+")
    exploded = d.select("doc_id", F.posexplode(wds).alias("pos", "word")).filter(
        F.col("word") != "the"
    )
    assembled = F.sort_array(F.collect_list(F.struct("pos", "word")))
    return exploded.groupBy("doc_id").agg(
        F.array_join(F.transform(assembled, lambda s: s["word"]), " ").alias(
            "reassembled"
        ),
        F.count("*").cast("long").alias("n_words"),
    )


@query(oracle="""
            WITH wc AS (
              SELECT word, count(*) AS df FROM (
                SELECT DISTINCT doc_id,
                       unnest(list_filter(
                         regexp_split_to_array(trim(text), '\\s+'),
                         x -> length(x) > 0)) AS word
                FROM documents
              ) GROUP BY word
            )
            SELECT word, df, rank::INTEGER AS rank FROM (
              SELECT word, df,
                     row_number() OVER (ORDER BY df DESC, word ASC) AS rank
              FROM wc
            ) WHERE rank <= 50
        """)
def _q_top_words(spark, sf_dir):
    """Global heavy hitters: corpus-wide top-50 vocabulary terms by
    document frequency (explode -> two map-combinable aggregations ->
    global top-k). The exact baseline of a frequent-items sketch."""
    d = read(spark, sf_dir, "documents")
    wds = tokens(F.col("text"))
    wc = (
        d.select("doc_id", F.explode(wds).alias("word"))
        .distinct()
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    w = Window.orderBy(F.col("df").desc(), F.col("word").asc())
    return (
        wc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("word", "df", "rank")
    )


@query(oracle="""
            WITH terms AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0)) AS word
              FROM documents
            ),
            tf AS (
              SELECT doc_id, word, count(*) AS tf
              FROM terms GROUP BY doc_id, word
            ),
            dft AS (
              SELECT word, count(*) AS df
              FROM (SELECT DISTINCT doc_id, word FROM terms) GROUP BY word
            ),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.word, tf.tf, dft.df,
                     round(tf.tf * ln(n.n_docs / dft.df), 4) AS score
              FROM tf JOIN dft USING (word), n
              WHERE tf.doc_id < 100
            )
            SELECT doc_id, word, tf, df, score, rank::INTEGER AS rank FROM (
              SELECT doc_id, word, tf, df, score,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY score DESC, word ASC) AS rank
              FROM scored
            ) WHERE rank <= 3
        """)
def _q_tfidf(spark, sf_dir):
    """TF-IDF top-3 terms per document (doc_id < 100): tf = in-doc count,
    idf = ln(N / df) over the WHOLE corpus. Ranking is on the ROUNDED
    score (word tie-break) so both engines agree at float boundaries."""
    d = read(spark, sf_dir, "documents")
    n_docs = d.count()  # small deterministic scalar (one metadata-cheap job)
    wds = tokens(F.col("text"))
    terms = d.select("doc_id", F.explode(wds).alias("word"))
    tf = terms.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_t = (
        terms.distinct().groupBy("word").agg(F.count("*").alias("df"))
    )
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(df_t, "word")
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "word", "tf", "df", "score", "rank")
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id, lang,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 0)) AS tok
              FROM documents
            ),
            tb AS (
              SELECT doc_id, lang,
                     CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
                       % 1024 AS b
              FROM toks
            ),
            raw AS (SELECT b, count(*) AS n_raw FROM tb GROUP BY b),
            tgt AS (SELECT b, count(*) AS n_tgt FROM tb
                    WHERE lang = 'en' GROUP BY b),
            lut AS (
              SELECT raw.b,
                     ((COALESCE(n_tgt, 0) + 1) * 1000000) // (n_raw + 1)
                       AS lr
              FROM raw LEFT JOIN tgt ON raw.b = tgt.b
            )
            SELECT doc_id, count(*) AS n_toks,
                   CAST(sum(lr) // count(*) AS BIGINT) AS w_avg
            FROM tb JOIN lut USING (b)
            GROUP BY doc_id
        """)
def _q_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights for data selection (hashed unigram
    importance of a target domain vs the raw corpus — Xie et al.'s Data
    Selection with Importance Resampling, bucketed-n-gram form): tokens
    hash into 1024 md5 buckets; per-bucket importance = smoothed
    target/raw count ratio; per-doc weight = mean bucket importance of
    its tokens. Ratios are kept in scaled-integer space (x1e6, integer
    division) so the cross-engine hash is exact — production would take
    log-ratios; the swap is one expression. Two combinable aggregates +
    one broadcast-size lookup join."""
    d = read(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            tokens(F.lower(F.col("text")))
        ).alias("tok"),
    )
    b = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % 1024
    ).alias("b")
    tb = toks.select("doc_id", "lang", b)
    raw = tb.groupBy("b").agg(F.count("*").alias("n_raw"))
    tgt = (
        tb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").alias("n_tgt"))
    )
    lut = raw.join(tgt, "b", "left").select(
        "b",
        F.expr("((coalesce(n_tgt, 0) + 1) * 1000000) div (n_raw + 1)").alias(
            "lr"
        ),
    )
    return (
        tb.join(F.broadcast(lut), "b")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("lr").alias("w_sum"))
        .select(
            "doc_id", "n_toks", F.expr("w_sum div n_toks").alias("w_avg")
        )
    )


@query(oracle="""
            WITH pairs AS (
              SELECT DISTINCT doc_id, unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       t -> length(t) > 2)) AS term
              FROM documents
            )
            SELECT term, count(*) AS df,
                   array_to_string(
                     list_sort(list(doc_id))[1:10], ',') AS postings_head
            FROM pairs
            GROUP BY term
            HAVING count(*) >= 20
        """)
def _q_inverted_index(spark, sf_dir):
    """Inverted index build (term -> document-frequency + ordered posting
    head) — the search-side artifact of an extraction pipeline. Postings
    are collect_set -> sort_array -> slice(10) so the stored list is
    bounded per term regardless of corpus size; terms below df>=20 are
    dropped (index pruning). Two combinable shuffles: distinct(doc,term),
    then the per-term aggregate."""
    d = read(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda t: F.length(t) > 2,
                )
            )
        ).alias("term"),
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.concat_ws(
                ",",
                F.slice(
                    F.sort_array(F.collect_set("doc_id")), 1, 10
                ).cast("array<string>"),
            ).alias("postings_head"),
        )
        .filter(F.col("df") >= 20)
    )
