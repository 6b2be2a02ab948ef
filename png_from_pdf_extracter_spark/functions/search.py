"""Relevance ranking over the extracted corpus — the retrieval side of a
training-data pipeline (corpus search, dedup-candidate triage, targeted
decontamination probes all reduce to "score documents against a term set").

BM25 (Robertson/Sparck-Jones, the Lucene ``k1``/``b`` parameterization with
the non-negative ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf) expressed as
pure relational builtins so Catalyst owns the physical plan:

- the query-term filter lands BEFORE the tf aggregate, so the shuffle
  carries only (doc, query-term) rows — corpus-sized map work, query-sized
  shuffle state;
- document length is a map-side ``size(tokens)`` (no shuffle);
- N and avgdl ship as ONE single-row aggregate broadcast-crossJoined back
  (the repo-standard scalar pattern, see ``curate.source_mix_weights``);
- ranking is on the ROUNDED score with a doc-id tie-break so both engines
  agree at float boundaries (same contract as ``q_tfidf``).

Reference analog: the reference repo has no search surface; this implements
the standard public BM25 formula (Robertson et al., TREC-3) over the same
lowercase-whitespace token contract as ``dedup``/``lm``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def bm25_topk(
    docs: DataFrame,
    query_terms: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """Top-k documents by BM25 against ``query_terms``.

    Returns (doc_id, n_terms_hit, score, rank) — ``score`` rounded to 4dp,
    rank = row_number over (score desc, doc_id asc), rows with rank <=
    ``top_k``. Documents matching zero query terms never appear (their
    score is 0 by construction).

    At 100 TB: one corpus scan tokenizes map-side; only rows whose term is
    in the (tiny, literal) query set survive to the (doc, term) aggregate,
    so shuffle volume is bounded by matches, not corpus size; df comes from
    the same filtered pairs; the scalar (N, avgdl) aggregate is a single
    row. No UDFs anywhere.
    """
    terms = [t.lower() for t in query_terms]
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("dl"))

    # ONE single-row scalar: corpus size + average doc length.
    scalars = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    pairs = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = pairs.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        pairs.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms_hit"),
            F.round(F.sum("w"), 4).alias("score"),
        )
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition partial
    # top-k, driver merge of k-row heads) — no single-partition window over
    # the full match set; the row_number ranking then runs on <= top_k rows.
    topk = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return topk.withColumn(
        "rank", F.row_number().over(w)
    ).select("doc_id", "n_terms_hit", "score", "rank")


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of two ranked lists (Cormack et al.:
    ``score = sum 1/(k+rank)``) — the standard hybrid-retrieval merge of
    a lexical (BM25) and a dense (embedding kNN) ranking. Inputs carry
    ``(id_col, rank)``; ids present in only one list contribute a single
    term (full-outer merge). Emits ``(id, rank_a, rank_b, rrf_q,
    fused_rank)`` with the score floor-quantized to 9dp and fused_rank
    tie-broken by id.

    The fused window runs over at most ``top_k_a + top_k_b`` rows —
    candidate lists, never the corpus — so the single-partition
    row_number is bounded by construction.
    """
    a = ranked_a.select(
        F.col(id_col).alias("id"), F.col("rank").alias("rank_a")
    )
    b = ranked_b.select(
        F.col(id_col).alias("id"), F.col("rank").alias("rank_b")
    )
    j = a.join(b, "id", "full_outer")
    term = lambda c: F.when(  # noqa: E731
        c.isNotNull(), F.lit(1.0) / (F.lit(float(k)) + c)
    ).otherwise(F.lit(0.0))
    score = term(F.col("rank_a")) + term(F.col("rank_b"))
    rrf_q = F.floor(score * F.lit(1e9)) / F.lit(1e9)
    w = Window.orderBy(F.col("rrf_q").desc(), F.col("id").asc())
    return (
        j.select("id", "rank_a", "rank_b", rrf_q.alias("rrf_q"))
        .withColumn("fused_rank", F.row_number().over(w))
    )


def bm25_topk_df(
    docs: DataFrame,
    terms_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """[[bm25_topk]] with the query terms coming from a DATAFRAME
    (column ``term``) instead of a Python literal list — the shape that
    lets a data-dependent term set (e.g. [[prf_expand]]'s output) feed
    a second ranking pass without any driver collect: the term set
    broadcast-joins against the exploded corpus exactly where the
    literal filter sat. Same contract and score arithmetic otherwise.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    scalars = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tset = terms_df.select(F.col("term")).distinct()
    pairs = (
        base.select("doc_id", "dl", F.explode("toks").alias("term"))
        .join(F.broadcast(tset), "term")
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = pairs.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = (
        pairs.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(scalars))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_terms_hit"),
            F.round(F.sum("w"), 4).alias("score"),
        )
    )
    topk = scored.orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return topk.withColumn(
        "rank", F.row_number().over(w)
    ).select("doc_id", "n_terms_hit", "score", "rank")


def prf_expand(
    docs: DataFrame,
    query_terms: list,
    fb_docs: int = 10,
    n_expansion: int = 10,
    max_df_frac: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM1 with uniform
    feedback weights, the deterministic core of RM3): take the BM25
    top ``fb_docs``, count every non-query term's occurrences inside
    them, drop stopword-frequency terms (corpus df above
    ``max_df_frac`` * N) and short tokens, and emit the top
    ``n_expansion`` by (feedback tf desc, term asc).

    Uniform doc weights keep every statistic an INTEGER (the repo's
    determinism contract) — classic RM3's score-weighted P(w|R) mixes
    floats whose sum order the engines could disagree on; the ranking
    this produces is the same family, value-checkable.

    Plan: one BM25 pass (bounded query-term shuffle), one explode over
    ONLY the fb_docs rows (broadcast semi-join), corpus df computed for
    the candidate terms only (broadcast semi-join on the exploded
    corpus — never a full-vocabulary aggregate). The ranking window
    runs over candidate terms of <= fb_docs documents, bounded.
    Returns (term, fb_tf, df, rank).
    """
    top = bm25_topk(
        docs, query_terms, id_col=id_col, text_col=text_col,
        top_k=fb_docs,
    )
    fb_ids = top.select("doc_id")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    fb_terms = (
        base.join(F.broadcast(fb_ids), "doc_id")
        .select(F.explode("toks").alias("term"))
        .filter(~F.col("term").isin([t.lower() for t in query_terms]))
        .filter(F.length("term") > 2)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("fb_tf"))
    )
    scalars = base.agg(F.count("*").alias("n_docs"))
    cand_df = (
        base.select("doc_id", F.explode("toks").alias("term"))
        .join(F.broadcast(fb_terms.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    w = Window.orderBy(F.col("fb_tf").desc(), F.col("term").asc())
    return (
        fb_terms.join(F.broadcast(cand_df), "term")
        .crossJoin(F.broadcast(scalars))
        .filter(
            F.col("df").cast("double")
            <= F.lit(float(max_df_frac)) * F.col("n_docs").cast("double")
        )
        .select("term", "fb_tf", "df")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_expansion)
    )


def prf_rerank(
    docs: DataFrame,
    query_terms: list,
    fb_docs: int = 10,
    n_expansion: int = 10,
    max_df_frac: float = 0.2,
    top_k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full PRF loop: [[prf_expand]] the query, union the original
    terms, re-rank with [[bm25_topk_df]] — first-pass retrieval,
    expansion and the second pass are ONE lazy plan; the expanded term
    set never touches the driver. Returns the second-pass top-k
    (doc_id, n_terms_hit, score, rank)."""
    exp = prf_expand(
        docs, query_terms, fb_docs=fb_docs, n_expansion=n_expansion,
        max_df_frac=max_df_frac, id_col=id_col, text_col=text_col,
    ).select("term")
    spark = docs.sparkSession
    orig = spark.createDataFrame(
        [(t.lower(),) for t in query_terms], "term string"
    )
    return bm25_topk_df(
        docs, exp.unionByName(orig).distinct(),
        id_col=id_col, text_col=text_col, top_k=top_k,
    )


def rbo_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    p: float = 0.9,
    k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between two top-k rankings,
    truncated at depth k: RBO = (1-p) * sum_d p^(d-1) * X_d / d with
    X_d the overlap of the two depth-d prefixes — the top-weighted
    agreement number for comparing rankers ([[rrf_fuse]] MERGES two
    rankings; RBO measures how much they already agree, with the
    geometric weight that makes rank-1 disagreement matter most).
    Kendall/Spearman need conjoint lists; RBO handles arbitrary
    top-k lists with partial overlap.

    Mechanics: an id at ranks (ra, rb) enters every prefix-overlap
    X_d from d = max(ra, rb) on, so X_d is ONE cumulative count over
    the join table — no per-depth rescan. The k-row depth table then
    accumulates the geometric series in FIXED depth order (ordered
    window). Every count is integer; the p^(d-1)/d terms are the only
    floats and their sum order is pinned. Plan: one inner join on id
    (both sides <= k rows), one k-row window. Returns (k, n_common,
    overlap_k, rbo_q6).
    """
    a = ranked_a.select(
        F.col(id_col).alias("__id"), F.col("rank").alias("__ra")
    ).filter(F.col("__ra") <= k)
    b = ranked_b.select(
        F.col(id_col).alias("__id"), F.col("rank").alias("__rb")
    ).filter(F.col("__rb") <= k)
    m = a.join(b, "__id").select(
        F.greatest("__ra", "__rb").alias("__m")
    )
    mc = m.groupBy("__m").agg(F.count("*").cast("long").alias("__c"))
    spark = ranked_a.sparkSession
    depths = spark.range(1, k + 1).select(
        F.col("id").cast("long").alias("__d")
    )
    joined = depths.join(
        mc, depths["__d"] == mc["__m"], "left"
    ).select("__d", F.coalesce("__c", F.lit(0)).alias("__c"))
    wcum = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.orderBy("__d").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # two passes: windows cannot nest in one projection — first the
    # cumulative overlap X_d, then the geometric accumulation over it
    cum = joined.select(
        "__d",
        F.sum("__c").over(wcum).alias("__x"),
        F.sum("__c").over(full).alias("__ncommon"),
    )
    term = (
        F.pow(F.lit(float(p)), (F.col("__d") - 1).cast("double"))
        * F.col("__x").cast("double")
        / F.col("__d").cast("double")
    )
    stepped = cum.select(
        F.sum(term).over(wcum).alias("__s"),
        F.col("__x"),
        F.col("__ncommon"),
        F.row_number().over(Window.orderBy("__d")).alias("__rn"),
    )
    last = stepped.filter(F.col("__rn") == k)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        F.lit(int(k)).alias("k"),
        F.col("__ncommon").cast("long").alias("n_common"),
        F.col("__x").cast("long").alias("overlap_k"),
        q6(F.lit(1.0 - float(p)) * F.col("__s")).alias("rbo_q6"),
    )


def ql_topk(
    docs: DataFrame,
    query_terms: list,
    id_col: str = "doc_id",
    text_col: str = "text",
    mu: float = 2000.0,
    top_k: int = 10,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty) —
    the language-modeling complement to [[bm25_topk]]: score(d) =
    sum_t log((tf + mu*p_c(t)) / (|d| + mu)) with p_c the collection
    unigram model. Decomposed the standard postings-only way so docs
    missing a term need NO row: score = qconst - |q|*log(|d| + mu) +
    sum_hits log(1 + tf/(mu*p_c)) — the corpus-constant ``qconst``
    and the per-doc hit sum are both sequential folds over
    term-SORTED lists, so every float op is order-pinned. Query terms
    absent from the collection (p_c = 0) are dropped from the model
    on both engines (their smoothed probability is undefined).

    Plan: one exploded-token join against the BROADCAST term set, one
    (doc, term) count, one doc-key aggregate; the collection stats are
    single-row broadcasts. Only docs hitting >= 1 term are ranked
    (standard impact-ordered behavior). Returns
    (doc_id, n_terms_hit, dl, score_q6, rank), top_k rows.
    """
    spark = docs.sparkSession
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("dl"))
    totals = base.agg(F.sum("dl").cast("long").alias("__c"))
    tset = spark.createDataFrame(
        [(t,) for t in sorted(set(query_terms))], "term string"
    )
    tok = base.select(
        "doc_id", "dl", F.explode("toks").alias("term")
    ).join(F.broadcast(tset), "term")
    cf = tok.groupBy("term").agg(F.count("*").cast("long").alias("__cf"))
    model = (
        cf.filter(F.col("__cf") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "term",
            (
                F.lit(float(mu))
                * (
                    F.col("__cf").cast("double")
                    / F.col("__c").cast("double")
                )
            ).alias("__mp"),
        )
    )
    qstats = model.agg(
        F.count("*").cast("long").alias("__nq"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("term").alias("term"),
                        F.log("__mp").alias("w"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, t: acc + t["w"],
        ).alias("__qconst"),
    )
    pairs = tok.groupBy("doc_id", "dl", "term").agg(
        F.count("*").cast("long").alias("__tf")
    )
    hits = pairs.join(F.broadcast(model), "term").select(
        "doc_id",
        "dl",
        F.struct(
            "term",
            F.log(
                F.lit(1.0)
                + F.col("__tf").cast("double") / F.col("__mp")
            ).alias("w"),
        ).alias("__hw"),
    )
    per_doc = hits.groupBy("doc_id", "dl").agg(
        F.count("*").cast("int").alias("n_terms_hit"),
        F.aggregate(
            F.sort_array(F.collect_list("__hw")),
            F.lit(0.0),
            lambda acc, t: acc + t["w"],
        ).alias("__hitsum"),
    )
    scored = per_doc.crossJoin(F.broadcast(qstats)).select(
        "doc_id",
        "n_terms_hit",
        "dl",
        (
            F.col("__qconst")
            - F.col("__nq").cast("double")
            * F.log(F.col("dl").cast("double") + F.lit(float(mu)))
            + F.col("__hitsum")
        ).alias("__score"),
    )
    topk = scored.orderBy(
        F.col("__score").desc(), F.col("doc_id").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("__score").desc(), F.col("doc_id").asc())
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return topk.withColumn(
        "rank", F.row_number().over(w)
    ).select(
        "doc_id",
        "n_terms_hit",
        "dl",
        q6(F.col("__score")).alias("score_q6"),
        "rank",
    )
