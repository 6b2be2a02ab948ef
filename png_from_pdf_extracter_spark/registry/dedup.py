"""Driver queries over ``functions/dedup.py`` (exact, MinHash and SimHash
dedup)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.functions import dedup
from png_from_pdf_extracter_spark.functions.curate import leakage_free_split
from png_from_pdf_extracter_spark.functions.dedup import (
    ngram_containment_pairs,
    tfidf_cosine_pairs,
    token_edit_distance_pairs,
)
from png_from_pdf_extracter_spark.functions.text import tokens
from png_from_pdf_extracter_spark.registry import query
from png_from_pdf_extracter_spark.registry.common import SHINGLES_CTE, read


def _with_reingest_exact(d: DataFrame) -> DataFrame:
    """Documents plus a deterministic re-ingest slice (every 7th doc again
    under a shifted id) — the synthetic documents table has zero natural
    duplicates at any sf, which made the dedup oracles pass vacuously
    (0 rows == 0 rows proves nothing). The planted dupes give the
    grouping/hash-match teeth; the oracle applies the identical union."""
    base = d.select("doc_id", "text")
    re = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), F.col("text")
    )
    return base.unionByName(re)


# MinHash-LSH candidate pairs as a reusable CTE chain (q_minhash_lsh and
# the q_dedup_components recursive closure both build on it)
_MINHASH_PAIRS_CTES = """
base AS (
  SELECT id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
           % 1000000007 AS hs
  FROM sh
),
sig AS (
  SELECT id, seed,
         min(((seed * 2 + 1) * hs + seed * 12345 + 6789)
             % 1000000007) AS minhash
  FROM base, (SELECT unnest(range(0, 8)) AS seed)
  GROUP BY id, seed
),
bands AS (
  SELECT id, (seed // 2) AS band,
         md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed)) AS band_hash
  FROM sig GROUP BY id, (seed // 2)
),
mh_pairs AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id
)
"""


def _band_ctes(src: str, p: str) -> str:
    """MinHash LSH band-table CTE chain over table/CTE ``src``, names
    prefixed with ``p`` — the two-snapshot twin of ``_MINHASH_PAIRS_CTES``
    (same shingles, base hash, universal-hash seeds, and band hashing, so
    it reproduces ``dedup._band_table`` exactly)."""
    return f"""
            {p}sh AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 2, 0) + 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                         AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM {src})
                WHERE len(w) >= 3
              )
            ),
            {p}base AS (
              SELECT id,
                     CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT)
                       % 1000000007 AS hs
              FROM {p}sh
            ),
            {p}sig AS (
              SELECT id, seed,
                     min(((seed * 2 + 1) * hs + seed * 12345 + 6789)
                         % 1000000007) AS minhash
              FROM {p}base, (SELECT unnest(range(0, 8)) AS seed)
              GROUP BY id, seed
            ),
            {p}bands AS (
              SELECT id, (seed // 2) AS band,
                     md5(string_agg(minhash::VARCHAR, ',' ORDER BY seed))
                       AS band_hash
              FROM {p}sig GROUP BY id, (seed // 2)
            )"""


@query(oracle="""
            WITH ingested AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            )
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
                   count(*) AS n_dupes
            FROM ingested GROUP BY md5(text) HAVING count(*) > 1
        """)
def _q_dedup_exact(spark, sf_dir):
    d = _with_reingest_exact(read(spark, sf_dir, "documents"))
    return dedup.exact_dedup(d, "doc_id", "text").filter(F.col("n_dupes") > 1)


@query(oracle="""
            WITH ingested AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 500
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents
              WHERE doc_id < 500 AND doc_id % 7 = 0
            ),
            ch AS (
              SELECT doc_id, substring(text, off::INTEGER, 40) AS chunk
              FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, length(text) - 39, 40))
                         AS off
                FROM ingested WHERE length(text) >= 40
              )
            )
            SELECT chunk,
                   count(DISTINCT doc_id)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_occ,
                   min(doc_id) AS first_doc
            FROM ch GROUP BY chunk
            HAVING count(DISTINCT doc_id) >= 2
        """)
def _q_chunk_dedup(spark, sf_dir):
    """Passage-level exact-substring dedup (chunked ExactSubstr): the
    planted re-ingest union guarantees cross-document repeated windows,
    so the oracle proves chunking + corpus-wide grouping, not just an
    empty result."""
    d = _with_reingest_exact(
        read(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    )
    return dedup.duplicated_chunks(d, "doc_id", "text", chunk=40, stride=40)


@query(oracle=f"""
            WITH {SHINGLES_CTE},
            shf AS (
              SELECT sh.id, sh.shingle FROM sh
              JOIN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000) rare USING (shingle)
            ),
            sizes AS (SELECT id, count(*) AS n_sh FROM shf GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*)::DOUBLE AS common
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(common / (s1.n_sh + s2.n_sh - common), 4) AS jaccard
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE round(common / (s1.n_sh + s2.n_sh - common), 4) >= 0.5
        """)
def _q_ngram_jaccard(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5)


@query(oracle=f"""
            WITH {SHINGLES_CTE}, {_MINHASH_PAIRS_CTES}
            SELECT id1, id2 FROM mh_pairs
        """)
def _q_minhash_lsh(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2)


@query(oracle=f"""
            WITH RECURSIVE {SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS node, least(a, min(b))::BIGINT AS component
            FROM reach GROUP BY a
        """)
def _q_dedup_components(spark, sf_dir):
    """Pairs -> CLUSTERS: connected components over the MinHash-LSH
    candidate pairs (iterative min-label propagation) vs a DuckDB
    RECURSIVE CTE transitive closure — the dedup-group assignment step
    that completes the pair generators into an actual deduper."""
    d = read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.connected_components(pairs)


@query(oracle="""
            WITH toks AS (
              SELECT DISTINCT doc_id AS id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents
            ),
            h AS (
              SELECT id, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
              FROM toks WHERE length(tok) > 0
            ),
            s AS (
              SELECT id, pos, sum(((h >> pos) & 1) * 2 - 1) AS s
              FROM h, (SELECT unnest(range(0, 32)) AS pos)
              GROUP BY id, pos
            )
            SELECT id AS doc_id,
                   sum(CASE WHEN s > 0 THEN (1::BIGINT << pos) ELSE 0 END)::BIGINT AS simhash
            FROM s GROUP BY id
        """)
def _q_simhash(spark, sf_dir):
    d = read(spark, sf_dir, "documents")
    return dedup.simhash(d, "doc_id", "text", bits=32).withColumnRenamed("id", "doc_id")


@query(oracle="""
            WITH toks AS (
              SELECT DISTINCT doc_id AS id,
                     unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
              FROM documents
            ),
            h AS (
              SELECT id, CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS h
              FROM toks WHERE length(tok) > 0
            ),
            s AS (
              SELECT id, pos, sum(((h >> pos) & 1) * 2 - 1) AS s
              FROM h, (SELECT unnest(range(0, 32)) AS pos)
              GROUP BY id, pos
            ),
            sig AS (
              SELECT id,
                     sum(CASE WHEN s > 0 THEN (1::BIGINT << pos) ELSE 0 END)::BIGINT
                       AS simhash
              FROM s GROUP BY id
            ),
            bands AS (
              SELECT id, simhash, band, (simhash >> (band * 16)) & 65535 AS band_val
              FROM sig, (SELECT unnest(range(0, 2)) AS band)
            )
            SELECT DISTINCT a.id AS doc1, b.id AS doc2,
                   bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_val = b.band_val AND a.id < b.id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        """)
def _q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole band join + hamming verify."""
    d = read(spark, sf_dir, "documents")
    return dedup.simhash_near_dup_pairs(
        d, "doc_id", "text", bits=32, max_hamming=1, n_bands=2
    ).withColumnRenamed("id1", "doc1").withColumnRenamed("id2", "doc2")


@query(oracle="""
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """)
def _q_dedup_latest(spark, sf_dir):
    """Keep-newest-per-key dedup (late/duplicate re-ingest tolerance,
    spec NFR-008 analog) over the events stream."""
    e = read(spark, sf_dir, "events")
    return dedup.dedup_latest(
        e, ["user_id"], "ts", tiebreak_col="event_id"
    ).select("user_id", "event_id", "event_type")


@query(oracle="""
            WITH shc AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> w[i] || ' ' || w[i+1])) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM documents)
                WHERE len(w) >= 2
              )
            )
            SELECT c.id AS doc_id,
                   count(DISTINCT c.shingle) AS n_shared_shingles,
                   count(DISTINCT b.bench_id) AS n_benchmark_docs
            FROM shc c
            JOIN (SELECT id AS bench_id, shingle FROM shc
                  WHERE id % 97 = 0) b USING (shingle)
            WHERE c.id <> b.bench_id
            GROUP BY c.id
        """)
def _q_contamination(spark, sf_dir):
    """Benchmark-contamination scan (dedup.contamination_check): bigram
    overlap of every corpus doc against the deterministic benchmark slice
    (every 97th doc)."""
    d = read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    return dedup.contamination_check(d, bench, "doc_id", "text", n=2)


@query(oracle=f"""
            WITH old_docs AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 250
            ),
            new_docs AS (
              SELECT doc_id, text, lang, source, n_chars FROM documents
              WHERE doc_id >= 250
              UNION ALL
              SELECT doc_id + 1000000,
                     '  ' || replace(text, ' ', '  ') || ' ',
                     lang, source, n_chars
              FROM documents WHERE doc_id < 250 AND doc_id % 3 = 0
            ),
            {_band_ctes("old_docs", "o")},
            {_band_ctes("new_docs", "n")},
            occ AS (SELECT DISTINCT band, band_hash FROM obands),
            hits AS (
              SELECT DISTINCT nb.id
              FROM nbands nb JOIN occ USING (band, band_hash)
            )
            SELECT lang, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS sum_chars
            FROM new_docs
            WHERE doc_id NOT IN (SELECT id FROM hits)
            GROUP BY lang
        """)
def _q_minhash_incr_dedup(spark, sf_dir):
    """Cross-run NEAR-dup dedup (dedup.minhash_incremental_dedup): the
    new batch — novel docs + a whitespace-mangled re-ingest slice
    (shingle-identical after tokenization, so every band collides) — is
    probed against the ingested corpus' occupied LSH buckets; planted
    re-ingests are provably dropped. Asymmetric: no old x old or
    new x new pairs are ever formed."""
    d = read(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 250)
    reingest = old.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("  "), F.regexp_replace(F.col("text"), " ", "  "), F.lit(" ")
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    new = d.filter(F.col("doc_id") >= 250).unionByName(reingest)
    kept = dedup.minhash_incremental_dedup(old, new, "doc_id", "text")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


@query(oracle=f"""
            WITH RECURSIVE {SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            losers AS (
              SELECT a AS doc_id FROM reach
              GROUP BY a HAVING least(a, min(b)) <> a
            )
            SELECT doc_id, source, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """)
def _q_minhash_dedup_apply(spark, sf_dir):
    """END-TO-END MinHash dedup: pairs -> connected components -> keep
    min-id survivor per cluster -> anti-join the corpus
    (dedup.apply_dedup). The oracle rebuilds the identical pipeline:
    recursive-CTE closure over the same pair table, then NOT IN."""
    d = read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.apply_dedup(d, pairs).select(
        "doc_id", "source", "lang", "n_chars"
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(substring(text, 1, 4000))), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents WHERE doc_id < 400
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS h,
                     doc_id * 1000000000 + i AS k
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t) - 7
            ),
            grp AS (
              SELECT h, count(*) AS n, min(k) AS keeper FROM wins GROUP BY h
            ),
            dups AS (
              SELECT w.doc_id, w.pos
              FROM wins w JOIN grp USING (h)
              WHERE grp.n >= 2 AND w.k <> grp.keeper
            ),
            m AS (
              SELECT doc_id, pos,
                     max(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM dups
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING
                     ) AS island
              FROM m
            )
            SELECT doc_id::BIGINT AS doc_id,
                   min(pos)::INTEGER AS span_start,
                   (max(pos) + 7)::INTEGER AS span_end,
                   (max(pos) + 7 - min(pos) + 1)::INTEGER AS span_tokens
            FROM isl GROUP BY doc_id, island
        """)
def _q_dup_spans(spark, sf_dir):
    """Exact substring-dedup SPANS (Lee et al. 2021 ExactSubstr, the
    rolling-window-hash distributed form — dedup.duplicate_spans):
    8-token runs occurring 2+ times corpus-wide, first occurrence kept,
    every other occurrence reported as a maximal (doc, token-span) cut.
    Text is capped at 4000 chars in BOTH engines so the oracle's
    fixed-range window enumeration stays bounded."""
    d = (
        read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.substring("text", 1, 4000).alias("text"))
    )
    return dedup.duplicate_spans(d, window=8, min_count=2)


@query(oracle="""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(
                       regexp_split_to_array(lower(trim(substring(text, 1, 4000))), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents WHERE doc_id < 400
            ),
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i : i + 7], ' ')) AS h,
                     doc_id * 1000000000 + i AS k
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t) - 7
            ),
            grp AS (
              SELECT h, count(*) AS n, min(k) AS keeper FROM wins GROUP BY h
            ),
            dups AS (
              SELECT w.doc_id, w.pos
              FROM wins w JOIN grp USING (h)
              WHERE grp.n >= 2 AND w.k <> grp.keeper
            ),
            m AS (
              SELECT doc_id, pos,
                     max(pos + 7) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ) AS prev_end
              FROM dups
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                              THEN 1 ELSE 0 END) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING
                     ) AS island
              FROM m
            ),
            spans AS MATERIALIZED (
              -- MATERIALIZED: DuckDB otherwise inlines the windowed isl
              -- CTE into the correlated NOT EXISTS and rejects the plan
              -- ("LATERAL join cannot contain window functions")
              SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
              FROM isl GROUP BY doc_id, island
            ),
            tok_rows AS (
              SELECT doc_id, i AS p, t[i] AS tok
              FROM toks, generate_series(1, 2100) g(i)
              WHERE i <= len(t)
            ),
            kept AS (
              SELECT tr.doc_id, tr.p, tr.tok
              FROM tok_rows tr
              WHERE NOT EXISTS (
                SELECT 1 FROM spans s
                WHERE s.doc_id = tr.doc_id AND tr.p BETWEEN s.s AND s.e
              )
            ),
            agg AS (
              SELECT doc_id, count(*) AS nk,
                     string_agg(tok, ' ' ORDER BY p) AS txt
              FROM kept GROUP BY doc_id
            )
            SELECT toks.doc_id::BIGINT AS doc_id,
                   len(t)::INTEGER AS n_tokens,
                   (len(t) - coalesce(agg.nk, 0))::INTEGER AS n_removed,
                   coalesce(agg.txt, '') AS text_clean
            FROM toks LEFT JOIN agg USING (doc_id)
        """)
def _q_dup_spans_apply(spark, sf_dir):
    """APPLY side of ExactSubstr dedup (dedup.remove_duplicate_spans):
    cut the q_dup_spans token spans and rebuild every doc's text from the
    surviving tokens (lowercase token contract). One per-doc span
    aggregate + one equi-join + a map-side array filter; the oracle
    rebuilds the identical pipeline and string_aggs kept tokens in
    position order."""
    d = (
        read(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.substring("text", 1, 4000).alias("text"))
    )
    spans = dedup.duplicate_spans(d, window=8, min_count=2)
    return dedup.remove_duplicate_spans(d, spans)


@query(oracle="""
            WITH x AS (
              SELECT p_partkey AS id, lower(p_name) AS t,
                     substring(lower(p_name), 1, 10) AS blk
              FROM part
            ),
            pairs AS (
              SELECT a.id AS id1, b.id AS id2,
                     levenshtein(a.t, b.t) AS dist
              FROM x a JOIN x b ON a.blk = b.blk AND a.id < b.id
                AND abs(length(a.t) - length(b.t)) <= 2
            )
            SELECT dist, count(*)::BIGINT AS n_pairs,
                   sum(id1 + id2)::BIGINT AS id_sum
            FROM pairs WHERE dist <= 2
            GROUP BY dist ORDER BY dist
        """)
def _q_edit_distance(spark, sf_dir):
    """Levenshtein near-dup pairs on part names (dedup.edit_distance_pairs
    — prefix-block equi-join + length bound, JVM levenshtein verify),
    rolled up per distance: pair rows explode ~quadratically inside dup
    blocks (3.1M at sf0.1) so the value check rides on the (dist,
    n_pairs, id_sum) rollup instead of the raw pair table."""
    p = read(spark, sf_dir, "part")
    pairs = dedup.edit_distance_pairs(
        p, "p_partkey", "p_name", max_dist=2, block_len=10
    )
    return (
        pairs.groupBy("dist")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("id1") + F.col("id2")).alias("id_sum"),
        )
        .orderBy("dist")
    )


@query(oracle="""
            WITH shc AS (
              SELECT DISTINCT id, shingle FROM (
                SELECT doc_id AS id,
                       unnest(list_transform(
                         range(1, greatest(len(w) - 1, 0) + 1),
                         i -> w[i] || ' ' || w[i+1])) AS shingle
                FROM (SELECT doc_id,
                             regexp_split_to_array(trim(text), '\\s+') AS w
                      FROM documents)
                WHERE len(w) >= 2
              )
            ),
            hits AS (
              SELECT c.id
              FROM shc c
              JOIN (SELECT id AS bench_id, shingle FROM shc
                    WHERE id % 97 = 0) b USING (shingle)
              WHERE c.id <> b.bench_id
              GROUP BY c.id
              HAVING count(DISTINCT c.shingle) >= 25
            )
            SELECT source, count(*) AS n_kept,
                   sum(n_chars)::BIGINT AS sum_chars,
                   min(doc_id) AS min_doc_id
            FROM documents
            WHERE doc_id NOT IN (SELECT id FROM hits)
            GROUP BY source
        """)
def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination APPLY (dedup.decontaminate): drop every
    doc sharing a bigram shingle with the q_contamination benchmark
    slice (every 97th doc), roll survivors up per source. min_shared=25
    keeps the gate non-vacuous at BOTH check scales (sf0.01 drops
    33/500, sf0.1 drops 4012/5000 — common bigrams make >=1 shared
    shingle true for every doc). The drop set is hit-sized; the corpus
    anti-joins once."""
    d = read(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    kept = dedup.decontaminate(
        d, bench, "doc_id", "text", n=2, min_shared=25
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(oracle=f"""
            WITH {SHINGLES_CTE},
            sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*) AS c
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.id < b.id GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(c::DOUBLE / (s1.n + s2.n - c), 4) AS jaccard
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE c * 18000 >= 8000 * (s1.n + s2.n)
        """)
def _q_jaccard_prefix(spark, sf_dir):
    """Exact Jaccard>=0.8 similarity join via prefix filtering
    (dedup.jaccard_prefix_join — SSJoin/PPJoin): only each doc's rarest
    ~20% of shingles generate candidates, no DF ceiling needed; the
    oracle computes the naive all-shared-shingle join, so the hash
    match PROVES the prefix filter loses no pairs."""
    d = read(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_join(
        d, "doc_id", "text", n=3, threshold=0.8
    )


@query(oracle=f"""
            WITH RECURSIVE {SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS node, least(a, min(b)) AS component
              FROM reach GROUP BY a
            ),
            members AS (
              SELECT c.node, c.component, d.n_chars AS score
              FROM comp c JOIN documents d ON c.node = d.doc_id
            ),
            best AS (
              SELECT component, max(score) AS ms
              FROM members GROUP BY component
            ),
            winners AS (
              SELECT m.component, min(m.node) AS winner
              FROM members m JOIN best b
                ON m.component = b.component AND m.score = b.ms
              GROUP BY m.component
            ),
            losers AS (
              SELECT m.node AS doc_id
              FROM members m JOIN winners w ON m.component = w.component
              WHERE m.node <> w.winner
            )
            SELECT doc_id, source, lang, n_chars FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """)
def _q_dedup_best_rep(spark, sf_dir):
    """Quality-aware dedup apply (dedup.apply_dedup_best): same MinHash
    pair table as q_minhash_dedup_apply, but each near-dup cluster
    keeps its HIGHEST-n_chars member (ties to min id) — "keep the
    cleanest copy", the production refinement of keep-min-id."""
    d = read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    return dedup.apply_dedup_best(d, pairs, "n_chars").select(
        "doc_id", "source", "lang", "n_chars"
    )


@query(oracle="""
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(list_filter(
                       regexp_split_to_array(trim(text), '\\s+'),
                       x -> length(x) > 0
                     )) AS w
              FROM documents
            ),
            tf AS (
              SELECT id, w, count(*)::BIGINT AS tf
              FROM toks GROUP BY id, w
            ),
            dft AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
            nn AS (SELECT count(*)::BIGINT AS N FROM documents),
            wq AS (
              SELECT id, tf.w,
                     CAST(floor(
                       tf::DOUBLE
                       * ln((N + 1)::DOUBLE / (df + 1)::DOUBLE)
                       * 1e6
                     ) AS BIGINT) AS wq
              FROM tf JOIN dft ON tf.w = dft.w CROSS JOIN nn
              WHERE df <= 1000
            ),
            norms AS (
              SELECT id, sum(wq::HUGEINT * wq::HUGEINT) AS n2
              FROM wq GROUP BY id
            ),
            dots AS (
              SELECT a.id AS id1, b.id AS id2,
                     sum(a.wq::HUGEINT * b.wq::HUGEINT) AS dot
              FROM wq a JOIN wq b ON a.w = b.w AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT * FROM (
              SELECT id1, id2, dot::DOUBLE AS dot_q,
                     CAST(floor(
                       dot::DOUBLE
                       / sqrt(na.n2::DOUBLE * nb.n2::DOUBLE) * 1e6
                     ) AS BIGINT) AS sim_ppm
              FROM dots
              JOIN norms na ON dots.id1 = na.id
              JOIN norms nb ON dots.id2 = nb.id
            ) WHERE sim_ppm >= 400000
        """)
def _q_tfidf_cosine(spark, sf_dir):
    """All-pairs TF-IDF cosine similarity (dedup.tfidf_cosine_pairs):
    inverted-index self-join on the term key with integer-quantized
    weights — exact DECIMAL dot products, one float emit per pair;
    df > 1000 terms dropped pre-join (the hot-key guard); 0.4 sim floor."""

    d = read(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(d, min_sim_ppm=400_000)


@query(oracle="""
            WITH d AS (
              SELECT doc_id, source,
                     list_filter(
                       regexp_split_to_array(lower(trim(text)), '\\s+'),
                       x -> length(x) > 0
                     ) AS t
              FROM documents
            ),
            vc AS (
              SELECT w, count(*) AS c
              FROM (SELECT unnest(t) AS w FROM d) GROUP BY w
            ),
            vocab AS (
              SELECT w, CASE WHEN r <= 190 THEN r + 64 ELSE 255 END
                       AS code
              FROM (
                SELECT w, row_number() OVER (ORDER BY c DESC, w ASC)
                         AS r
                FROM vc
              )
            ),
            pos AS (
              SELECT doc_id, p, t[p] AS w
              FROM d, generate_series(1, 512) g(p) WHERE p <= len(t)
            ),
            enc0 AS (
              SELECT doc_id,
                     array_to_string(list(chr(code::INTEGER) ORDER BY p), '')
                       AS s,
                     count(*)::INTEGER AS n
              FROM pos JOIN vocab USING (w) GROUP BY doc_id
            ),
            enc AS (
              SELECT d.doc_id, coalesce(s, '') AS s, coalesce(n, 0) AS n
              FROM d LEFT JOIN enc0 USING (doc_id)
            ),
            pairs AS (
              SELECT doc_id AS id_a,
                     lead(doc_id) OVER (
                       PARTITION BY source ORDER BY doc_id) AS id_b
              FROM d
            ),
            pp AS (SELECT id_a, id_b FROM pairs WHERE id_b IS NOT NULL)
            SELECT pp.id_a, pp.id_b, a.n AS n_ref, b.n AS n_hyp,
              levenshtein(a.s, b.s)::BIGINT AS dist,
              CASE WHEN a.n > 0 THEN
                floor(levenshtein(a.s, b.s)::DOUBLE / a.n::DOUBLE
                      * 1e6) / 1e6
              END AS wer_q6
            FROM pp JOIN enc a ON pp.id_a = a.doc_id
                    JOIN enc b ON pp.id_b = b.doc_id
        """)
def _q_token_wer(spark, sf_dir):
    """Token-level edit distance / WER between each doc and its
    source-successor (functions/dedup.py token_edit_distance_pairs):
    the vocabulary dense-ranks into single characters so the built-in
    JVM levenshtein computes the WORD-level DP — no Python UDF. Exact
    here (31-word vocab << the 190 cap)."""

    d = read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        tokens(F.lower(F.col("text"))).alias("toks"),
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        F.lead("doc_id").over(w).alias("id_b"),
    ).filter(F.col("id_b").isNotNull())
    return token_edit_distance_pairs(d, pairs, "doc_id", "toks")


@query(oracle=f"""
            WITH RECURSIVE {SHINGLES_CTE}, {_MINHASH_PAIRS_CTES},
            edges AS (
              SELECT id1 AS a, id2 AS b FROM mh_pairs
              UNION
              SELECT id2, id1 FROM mh_pairs
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            comp AS (
              SELECT a AS node, least(a, min(b))::BIGINT AS component
              FROM reach GROUP BY a
            ),
            assigned AS (
              SELECT d.doc_id,
                     coalesce(c.component, d.doc_id)::BIGINT AS group_key
              FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
            ),
            s AS (
              SELECT *,
                     CAST(('0x' || substring(
                       md5(group_key::VARCHAR), 1, 15)) AS BIGINT)
                       % 100 AS h
              FROM assigned
            )
            SELECT CASE WHEN h < 10 THEN 'test'
                        WHEN h < 20 THEN 'val'
                        ELSE 'train' END AS split,
                   count(*)::BIGINT AS n_docs,
                   count(DISTINCT group_key)::BIGINT AS n_groups,
                   sum(doc_id)::BIGINT AS id_sum
            FROM s GROUP BY 1
        """)
def _q_leakage_split(spark, sf_dir):
    """Leakage-free train/val/test split (curate.leakage_free_split):
    the split is an md5 function of each doc's near-dup COMPONENT
    representative (MinHash-LSH pairs -> connected components), so
    duplicate clusters can never straddle the train/val boundary — the
    internal-contamination bug a per-doc split silently commits. Split
    rollup with doc-id checksums proves the assignment against the
    DuckDB recursive-CTE component closure."""

    d = read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n=3, num_hashes=8, rows_per_band=2
    )
    out = leakage_free_split(d, pairs)
    return out.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("group_key").cast("long").alias("n_groups"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(oracle=f"""
            WITH {SHINGLES_CTE},
            shf AS (
              SELECT sh.id, sh.shingle FROM sh
              JOIN (SELECT shingle FROM sh GROUP BY shingle
                    HAVING count(*) <= 1000) rare USING (shingle)
            ),
            sizes AS (SELECT id, count(*) AS n_sh FROM shf GROUP BY id),
            common AS (
              SELECT a.id AS id1, b.id AS id2, count(*)::DOUBLE AS common
              FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.id < b.id
              GROUP BY a.id, b.id
            )
            SELECT id1, id2,
                   round(common / least(s1.n_sh, s2.n_sh), 4) AS containment
            FROM common
            JOIN sizes s1 ON common.id1 = s1.id
            JOIN sizes s2 ON common.id2 = s2.id
            WHERE round(common / least(s1.n_sh, s2.n_sh), 4) >= 0.6
        """)
def _q_ngram_containment(spark, sf_dir):
    """Trigram CONTAINMENT near-dup pairs (functions/dedup.py
    ngram_containment_pairs): |A∩B| / min(|A|,|B|) >= 0.6 — the
    Broder resemblance twin of q_ngram_jaccard that catches subset
    duplication (snippet/quote inclusion) Jaccard under-scores. Same
    joinless candidate plan and hot-shingle guard."""

    d = read(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.6
    )
