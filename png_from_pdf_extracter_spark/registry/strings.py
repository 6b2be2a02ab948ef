"""Builtin-only driver queries: scalar and string functions (SURVEY.md §2.5)."""

from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import read


@query(oracle="""
            SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sum_chars
            FROM documents WHERE regexp_matches(source, '^src1[0-9]$')
            GROUP BY lang
        """)
def _q_regex_whitelist(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return (
        d.filter(F.col("source").rlike("^src1[0-9]$"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
    )


@query(oracle="""
            SELECT error_class, count(*) AS n FROM (
              SELECT CASE
                WHEN event_type = 'error' AND value > 50 THEN 'hard_error'
                WHEN event_type = 'error' THEN 'soft_error'
                WHEN value > 90 THEN 'outlier'
                ELSE 'ok' END AS error_class
              FROM events
            ) GROUP BY error_class
        """)
def _q_error_classify(spark, sf_dir):
    e = read(spark, sf_dir, "events")
    cls = (
        F.when((F.col("event_type") == "error") & (F.col("value") > 50), "hard_error")
        .when(F.col("event_type") == "error", "soft_error")
        .when(F.col("value") > 90, "outlier")
        .otherwise("ok")
    )
    return e.select(cls.alias("error_class")).groupBy("error_class").agg(
        F.count("*").alias("n")
    )


@query(oracle="""
            SELECT year(o_orderdate)::INTEGER AS yr,
                   quarter(o_orderdate)::INTEGER AS qtr,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(DISTINCT date_trunc('month', o_orderdate))
                     AS n_months
            FROM orders GROUP BY yr, qtr
        """)
def _q_date_trunc(spark, sf_dir):
    """Calendar functions: month truncation + year/quarter extraction over
    the orders timeline."""
    o = read(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct(
                F.date_trunc("month", "o_orderdate")
            ).alias("n_months"),
        )
    )


@query(oracle="""
            SELECT doc_id,
                   len(w)::INTEGER AS n_words,
                   list_aggregate(list_transform(w, x -> length(x)), 'sum')
                     ::INTEGER AS total_len,
                   list_aggregate(list_transform(w, x -> length(x)), 'max')
                     ::INTEGER AS max_len,
                   len(list_filter(list_transform(w, x -> length(x)),
                       x -> x > 6))::INTEGER AS n_long
            FROM (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 x -> length(x) > 0) AS w
              FROM documents WHERE doc_id < 300
            )
        """)
def _q_array_funcs(spark, sf_dir):
    """Higher-order array functions (transform/filter/aggregate) — word
    lengths computed entirely JVM-side, no UDF."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    words = tokens(F.col("text"))
    lens = F.transform(words, F.length)
    return d.select(
        "doc_id",
        F.size(words).alias("n_words"),
        F.aggregate(lens, F.lit(0), lambda a, x: a + x).alias("total_len"),
        F.array_max(lens).alias("max_len"),
        F.size(F.filter(lens, lambda x: x > 6)).alias("n_long"),
    )


@query(oracle="""
            SELECT event_type,
                   sum(json_extract(props, '$.k')::INTEGER)::BIGINT AS sum_k,
                   round(avg(json_extract(props, '$.k')::INTEGER), 4) AS avg_k,
                   max(json_extract(props, '$.k')::INTEGER) AS max_k,
                   count(CASE WHEN json_extract(props, '$.k') IS NULL
                         THEN 1 END) AS n_null
            FROM events GROUP BY event_type
        """)
def _q_json_extract(spark, sf_dir):
    """Typed JSON payload decode (from_json with explicit schema — never
    inference in the hot path) + aggregation over the extracted field."""
    e = read(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null"),
        )
    )


@query(oracle="""
            SELECT doc_id,
                   length(to_base64(encode(text)))::INTEGER AS enc_len,
                   decode(from_base64(to_base64(encode(text)))) = text
                     AS roundtrip_ok,
                   substring(decode(from_base64(to_base64(encode(text)))),
                             1, 40) AS decoded_head
            FROM documents WHERE doc_id < 150
        """)
def _q_base64_decode(spark, sf_dir):
    """Base64 payload encode/decode roundtrip (``F.base64``/``F.unbase64``
    builtins — the ``part.get_payload(decode=True)`` analog, ref
    job_processor.py:207; SURVEY §2.3 row previously unwired)."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    # Spark's base64 is MIME-chunked (CRLF every 76 chars); strip the line
    # breaks so the length matches the unchunked RFC 4648 form DuckDB emits.
    enc = F.regexp_replace(
        F.base64(F.col("text").cast("binary")), "[\\r\\n]", ""
    )
    dec = F.unbase64(enc).cast("string")
    return d.select(
        "doc_id",
        F.length(enc).alias("enc_len"),
        (dec == F.col("text")).alias("roundtrip_ok"),
        F.substring(dec, 1, 40).alias("decoded_head"),
    )


@query(oracle="""
            SELECT doc_id,
                   regexp_extract(
                     'User Name <user' || doc_id || '@' || source
                       || '.example>',
                     '<([^>]+)>', 1) AS sender,
                   'Re: ' || source || ' doc ' || doc_id AS reply_subject
            FROM documents WHERE doc_id < 100
        """)
def _q_subject_prefix(spark, sf_dir):
    """Address parse + reply-subject prefix one-liners (ref
    imap_service.py:178 ``parseaddr``, job_processor.py:126 ``Re:``) over a
    derived RFC5322-ish header — SURVEY §2.5 rows, standalone + oracle-able."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    hdr = F.concat(
        F.lit("User Name <user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example>"),
    )
    return d.select(
        "doc_id",
        F.regexp_extract(hdr, "<([^>]+)>", 1).alias("sender"),
        F.concat(F.lit("Re: "), F.col("source"), F.lit(" doc "),
                 F.col("doc_id").cast("string")).alias("reply_subject"),
    )


@query(oracle="""
            SELECT p_partkey,
                   levenshtein(p_name, reverse(p_name))::INTEGER AS lev_rev,
                   levenshtein(substring(p_name, 1, 10),
                               'promo brush')::INTEGER AS lev_ref,
                   reverse(substring(p_name, 1, 10)) AS rev10
            FROM part WHERE p_partkey < 500
        """)
def _q_levenshtein(spark, sf_dir):
    """Edit-distance + string-reversal builtins (fuzzy-matching family)
    over part names."""
    p = read(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    name10 = F.substring("p_name", 1, 10)
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.reverse(F.col("p_name"))).alias("lev_rev"),
        F.levenshtein(name10, F.lit("promo brush")).alias("lev_ref"),
        F.reverse(name10).alias("rev10"),
    )


@query(oracle="""
            WITH f AS (
              SELECT doc_id,
                     'contact user' || doc_id::VARCHAR || '@' || source
                       || '.example.com or +1-555-'
                       || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                       || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.'
                       || ((doc_id * 7) % 256)::VARCHAR
                       || ' re: ' || substring(text, 1, 60) AS t
              FROM documents WHERE doc_id < 500
            )
            SELECT doc_id,
                   length(regexp_extract_all(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'
                   ))::INTEGER AS n_emails,
                   length(regexp_extract_all(t,
                     '\\+1-555-[0-9]{4}'))::INTEGER AS n_phones,
                   length(regexp_extract_all(t,
                     '\\b10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}\\b'
                   ))::INTEGER AS n_ips,
                   substring(regexp_replace(regexp_replace(regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                     '\\+1-555-[0-9]{4}', '<PHONE>', 'g'),
                     '\\b10\\.0\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                     1, 80) AS scrubbed_head
            FROM f
        """)
def _q_pii_scrub(spark, sf_dir):
    """PII redaction pass — the scrub every training corpus needs before
    release: emails -> <EMAIL>, phones -> <PHONE>, IPv4 -> <IP>, with
    per-doc redaction counts (regexp_count) for the audit trail. The
    synthetic corpus carries no PII, so each doc is framed with derived
    addresses (same framing in the oracle). Map-only: stays inside
    whole-stage codegen, no shuffle at all."""
    d = read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    framed = d.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@"),
            F.col("source"),
            F.lit(".example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
            F.lit(" re: "),
            F.substring("text", 1, 60),
        ).alias("t"),
    )
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone_re = r"\+1-555-[0-9]{4}"
    ip_re = r"\b10\.0\.[0-9]{1,3}\.[0-9]{1,3}\b"
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), email_re, "<EMAIL>"),
            phone_re,
            "<PHONE>",
        ),
        ip_re,
        "<IP>",
    )
    return framed.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(email_re)).alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(phone_re)).alias("n_phones"),
        F.regexp_count(F.col("t"), F.lit(ip_re)).alias("n_ips"),
        F.substring(scrubbed, 1, 80).alias("scrubbed_head"),
    )


@query(oracle="""
            SELECT domain, count(*) AS n_refs FROM (
              SELECT unnest(regexp_extract_all(
                'see https://' || source || '.example.com/d/'
                  || doc_id::VARCHAR || ' and http://mirror-' || lang
                  || '.example.org/x ref ' || substring(text, 1, 40),
                'https?://([A-Za-z0-9.-]+)', 1)) AS domain
              FROM documents
            ) GROUP BY domain
        """)
def _q_url_extract(spark, sf_dir):
    """URL/domain extraction and per-domain counts — regexp_extract_all
    -> explode -> groupBy. The synthetic corpus carries no URLs, so each
    doc is deterministically framed with two derived URLs (same framing
    in the oracle) to give the extraction teeth. Map-only until one
    combinable count shuffle."""
    d = read(spark, sf_dir, "documents")
    framed = d.select(
        F.concat(
            F.lit("see https://"),
            F.col("source"),
            F.lit(".example.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" and http://mirror-"),
            F.col("lang"),
            F.lit(".example.org/x ref "),
            F.substring("text", 1, 40),
        ).alias("t")
    )
    domains = F.explode(
        F.regexp_extract_all(F.col("t"), F.lit(r"https?://([A-Za-z0-9.-]+)"), 1)
    )
    return (
        framed.select(domains.alias("domain"))
        .groupBy("domain")
        .agg(F.count("*").alias("n_refs"))
    )


@query(oracle="""
            WITH noisy AS (
              SELECT doc_id,
                     (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.'
                           ELSE 'http://' END)
                     || source || '.Example.COM/d/'
                     || CAST(doc_id % 100 AS VARCHAR)
                     || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
                     || (CASE WHEN doc_id % 5 = 0
                         THEN '?utm_source=x&ref=y' ELSE '' END)
                     || (CASE WHEN doc_id % 7 = 0 THEN '#frag'
                         ELSE '' END) AS url
              FROM documents
            ),
            canon AS (
              SELECT regexp_replace(
                       regexp_replace(
                         regexp_replace(lower(url),
                                        '^https?://(www\\.)?', ''),
                         '[?#].*$', ''),
                       '/$', '') AS curl
              FROM noisy
            ),
            withdom AS (
              SELECT curl, regexp_extract(curl, '^([^/]+)', 1) AS domain
              FROM canon
            )
            SELECT domain, count(*) AS n_urls,
                   count(DISTINCT curl) AS n_canonical
            FROM withdom
            WHERE domain NOT IN ('src0.example.com', 'src7.example.com')
            GROUP BY domain
        """)
def _q_url_canonical(spark, sf_dir):
    """URL canonicalization + blocklist gate — the crawl-side dedup
    precondition (the same URL arrives as http/https, with/without www,
    query strings, fragments, trailing slashes). Each doc is framed with
    a deterministically-noised URL, canonicalized with pure regexp
    builtins, blocked domains anti-joined away, and distinct canonical
    URLs counted per domain. Map-only until one count shuffle."""
    d = read(spark, sf_dir, "documents")
    noisy = d.select(
        "doc_id",
        F.concat(
            F.when((F.col("doc_id") % 2) == 0, F.lit("HTTPS://WWW."))
            .otherwise(F.lit("http://")),
            F.col("source"),
            F.lit(".Example.COM/d/"),
            (F.col("doc_id") % 100).cast("string"),
            F.when((F.col("doc_id") % 3) == 0, F.lit("/")).otherwise(
                F.lit("")
            ),
            F.when((F.col("doc_id") % 5) == 0, F.lit("?utm_source=x&ref=y"))
            .otherwise(F.lit("")),
            F.when((F.col("doc_id") % 7) == 0, F.lit("#frag")).otherwise(
                F.lit("")
            ),
        ).alias("url"),
    )
    canon = F.regexp_replace(  # strip trailing slash last
        F.regexp_replace(  # drop query + fragment
            F.regexp_replace(  # scheme + www off, lowercase host via lower()
                F.lower("url"), r"^https?://(www\.)?", ""
            ),
            r"[?#].*$",
            "",
        ),
        r"/$",
        "",
    )
    canon_df = noisy.select(
        canon.alias("curl"),
        F.regexp_extract(canon, r"^([^/]+)", 1).alias("domain"),
    )
    blocklist = spark.createDataFrame(
        [("src0.example.com",), ("src7.example.com",)], ["domain"]
    )
    return (
        canon_df.join(F.broadcast(blocklist), "domain", "left_anti")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("curl").alias("n_canonical"),
        )
    )
