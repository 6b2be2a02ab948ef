"""Multi-keyword tagging in one pass: a broadcast Aho-Corasick automaton.

The reference filters attachments one regex at a time
(/root/reference/src/services/attachment_service.py whitelist loop); a
curation pipeline tagging documents against a large dictionary (blocklist
terms, PII trigger words, topic lexicons, contamination markers) cannot
afford K regex scans per document — at 100 TB with a 10k-term dictionary
that is 10k passes over every byte. Aho-Corasick matches ALL keywords in
ONE pass per document: O(len(text) + matches), independent of dictionary
size.

Semantics: per (doc, keyword), the LEFTMOST NON-OVERLAPPING occurrence
count — exactly Python ``str.count`` and exactly SQL's
``(length(t) - length(replace(t, k, ''))) / length(k)``, which is what
makes the operator value-checkable by a DuckDB oracle. Matches of
DIFFERENT keywords may overlap freely (each keyword is counted
independently, same as K separate scans would).

Scale design:
- The automaton is built once per Python worker from the broadcast
  keyword list (module-level cache keyed by the keyword tuple), not per
  batch and never per row.
- The scan is a single ``mapInPandas`` pass emitting (id, keyword, hits)
  long-format rows; the per-keyword rollup is an ordinary combinable
  aggregation (map-side partial) on a key space bounded by the
  dictionary size.
- No shuffle touches the corpus beyond the one aggregation of the
  (already tiny) match table.
"""

from __future__ import annotations

from collections import deque
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens


def build_automaton(keywords: Sequence[str]):
    """Aho-Corasick automaton: goto[(state, ch)] -> state, fail[state] ->
    state, out[state] -> list of keyword indices ending here. Pure
    stdlib, built in O(total keyword chars) via a per-state children
    adjacency (BFS processes each edge once)."""
    children: list = [{}]  # state -> {ch: child state}; 0 is the root
    out: dict = {}
    for ki, kw in enumerate(keywords):
        s = 0
        for ch in kw:
            t = children[s].get(ch)
            if t is None:
                children.append({})
                t = len(children) - 1
                children[s][ch] = t
            s = t
        out.setdefault(s, []).append(ki)
    fail = [0] * len(children)
    queue = deque(children[0].values())  # depth-1 states fail to the root
    while queue:
        r = queue.popleft()
        for ch, t in children[r].items():
            queue.append(t)
            f = fail[r]
            while f and ch not in children[f]:
                f = fail[f]
            fail[t] = children[f].get(ch, 0)
            # BFS order: fail[t] is shallower, so its out is complete
            if fail[t] in out:
                out.setdefault(t, []).extend(out[fail[t]])
    goto = {
        (s, ch): t
        for s, edges in enumerate(children)
        for ch, t in edges.items()
    }
    return goto, fail, out


def count_keywords(
    text: str, keywords: Sequence[str], automaton
) -> list:
    """Non-overlapping-per-keyword hit counts for one text: Aho-Corasick
    emits every match (by end position); a per-keyword last-end cursor
    keeps only matches starting at or after the previous kept match's
    end — the leftmost-non-overlap rule, equal to ``str.count``."""
    goto, fail, out = automaton
    counts = [0] * len(keywords)
    last_end = [-1] * len(keywords)
    s = 0
    for pos, ch in enumerate(text):
        while s and (s, ch) not in goto:
            s = fail[s]
        s = goto.get((s, ch), 0)
        if s in out:
            for ki in out[s]:
                start = pos - len(keywords[ki]) + 1
                if start > last_end[ki]:
                    counts[ki] += 1
                    last_end[ki] = pos
    return counts


# per-worker automaton cache: rebuilt only when the keyword tuple changes
_CACHE: dict = {}


def _cached_automaton(kw_tuple):
    auto = _CACHE.get(kw_tuple)
    if auto is None:
        if len(_CACHE) > 4:
            _CACHE.clear()
        auto = _CACHE[kw_tuple] = build_automaton(kw_tuple)
    return auto


def keyword_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keywords: Sequence[str],
) -> DataFrame:
    """Long-format (id, keyword, hits) for every keyword with >= 1
    leftmost-non-overlapping occurrence — one Aho-Corasick pass per
    document regardless of dictionary size."""
    kw_tuple = tuple(keywords)
    import pandas as pd  # worker-side import

    def scan(batches: Iterator) -> Iterator:
        auto = _cached_automaton(kw_tuple)
        for pdf in batches:
            ids, kws, hits = [], [], []
            for rid, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                counts = count_keywords(text, kw_tuple, auto)
                for ki, c in enumerate(counts):
                    if c:
                        ids.append(rid)
                        kws.append(kw_tuple[ki])
                        hits.append(c)
            yield pd.DataFrame(
                {id_col: ids, "keyword": kws, "hits": hits}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        scan, schema=f"{id_col} {id_type}, keyword string, hits long"
    )


def keyword_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keywords: Sequence[str],
) -> DataFrame:
    """Dictionary-level rollup: per keyword, the number of documents with
    at least one hit and the total hit count — (keyword, n_docs, n_hits),
    zero-hit keywords omitted. One corpus pass + one tiny aggregation."""
    hits = keyword_hits(df, id_col, text_col, keywords)
    return hits.groupBy("keyword").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("hits").cast("long").alias("n_hits"),
    )


def rake_keyphrases(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    stopwords: tuple = ("a", "the", "of", "and", "to", "in"),
    max_phrase_len: int = 4,
    top_k: int = 15,
):
    """RAKE keyphrase extraction (Rose et al., Rapid Automatic Keyword
    Extraction): candidate phrases are the maximal stopword-free token
    runs; each word scores deg(w)/freq(w) (degree = sum of the lengths
    of the phrases it appears in — words that travel in long phrases
    beat loners); a phrase scores the sum of its words. The corpus
    read: the top phrases ARE the domain vocabulary — seed lexicons,
    tag dictionaries, [[keyword tagging|tag_keywords]] inputs.

    DETERMINISM: the per-word ratio deg/freq is floor-quantized to
    integer 1e-6 units ONCE, so every phrase score is an INTEGER sum —
    no float fold order anywhere (the naive-bayes contract). Ranking
    by (score desc, occurrences desc, phrase asc).

    Plan: phrase segmentation is gaps-and-islands — posexplode the
    token array, run-id = running count of stopword separators, one
    (doc, run) collect_list — a per-doc window, bounded by doc length.
    Word stats and phrase scores are two map-combinable aggregates on
    (word) / (phrase text). The final top-k window runs over the
    distinct-phrase table. Returns (phrase, n_words, occurrences,
    score_q6).
    """
    from pyspark.sql import Window

    toks = tokens(F.lower(F.col(text_col)))
    stops = [s.lower() for s in stopwords]
    pos = docs.select(
        F.col(id_col).alias("__d"), toks.alias("__t")
    ).select(
        "__d", F.posexplode("__t").alias("__p", "__w")
    ).withColumn(
        "__stop", F.col("__w").isin(stops).cast("int")
    )
    wrun = Window.partitionBy("__d").orderBy("__p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    runs = pos.withColumn("__run", F.sum("__stop").over(wrun)).filter(
        F.col("__stop") == 0
    )
    phrases = (
        runs.groupBy("__d", "__run")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__p", "__w"))
            ).alias("__pw")
        )
        .select(
            F.transform(F.col("__pw"), lambda s: s["__w"]).alias("__ws")
        )
        .filter(
            (F.size("__ws") >= 1) & (F.size("__ws") <= max_phrase_len)
        )
        .select(
            F.concat_ws(" ", F.col("__ws")).alias("phrase"),
            F.col("__ws"),
            F.size("__ws").alias("n_words"),
        )
    )
    words = (
        phrases.select(F.explode("__ws").alias("word"), "n_words")
        .groupBy("word")
        .agg(
            F.count("*").cast("long").alias("__freq"),
            F.sum("n_words").cast("long").alias("__deg"),
        )
        .select(
            "word",
            F.floor(
                F.col("__deg").cast("double")
                / F.col("__freq").cast("double")
                * F.lit(1e6)
            ).cast("long").alias("__wscore"),
        )
    )
    scored = (
        phrases.select(
            "phrase", "n_words", F.explode("__ws").alias("word")
        )
        .join(F.broadcast(words), "word")
        .groupBy("phrase", "n_words")
        .agg(
            # integer sum of quantized word scores / phrase occurrence:
            # each occurrence contributes the same per-word rows, so
            # sum/occurrences is exact
            F.count("*").cast("long").alias("__rows"),
            F.sum("__wscore").alias("__total"),
        )
    )
    occ = (F.col("__rows") / F.col("n_words")).cast("long")
    per_occ = (F.col("__total") / occ).cast("long")
    # orderBy+limit plans as TakeOrderedAndProject (per-partition
    # partial top-k, driver merge of k-row heads) — the row_number
    # ranking then runs over <= top_k rows, never a single-partition
    # window across every distinct phrase (the bm25_topk discipline)
    top = (
        scored.select(
            "phrase",
            "n_words",
            occ.alias("occurrences"),
            per_occ.alias("__score_i"),
        )
        .orderBy(
            F.col("__score_i").desc(),
            F.col("occurrences").desc(),
            F.col("phrase").asc(),
        )
        .limit(top_k)
    )
    w = Window.orderBy(
        F.col("__score_i").desc(),
        F.col("occurrences").desc(),
        F.col("phrase").asc(),
    )
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select(
            "phrase",
            "n_words",
            "occurrences",
            (F.col("__score_i").cast("double") / F.lit(1e6)).alias(
                "score_q6"
            ),
            "rank",
        )
    )


def juilland_dispersion(
    docs,
    part_col: str = "source",
    text_col: str = "text",
    top_k: int = 20,
):
    """Juilland's D dispersion for the corpus's top-k terms: how EVENLY
    a term spreads across the k parts (sources/shards) — D = 1 -
    CV/sqrt(k-1), 1 = perfectly even, 0 = concentrated in one part.
    The corpus-linguistics complement to [[rake_keyphrases]]/keyness:
    a high-frequency term with low D is a shard artifact, not a corpus
    term — the read that catches one crawl seed poisoning a lexicon.

    Absent (term, part) cells are zero by contract, so per-term
    moments over ALL k parts come from sums over PRESENT cells only
    (a zero cell adds nothing to either sum) — population CV from
    integer counts, one fixed float expression per term, no stepped
    window anywhere. Plan: one (part, term) count shuffle, one term
    rollup, TakeOrdered top-k. Returns (term, total_freq, n_parts_hit,
    d_q6) for the top_k terms by total frequency (term asc
    tie-break).
    """
    from pyspark.sql import functions as F

    parts_k = docs.select(part_col).distinct().count()
    toks = docs.select(
        F.col(part_col).alias("__p"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    tp = toks.groupBy("__t", "__p").agg(
        F.count("*").cast("long").alias("__c")
    )
    per_term = tp.groupBy("__t").agg(
        F.sum("__c").cast("long").alias("total_freq"),
        F.sum(F.col("__c") * F.col("__c")).cast("long").alias("__c2"),
        F.count("*").cast("long").alias("n_parts_hit"),
    )
    k = float(parts_k)
    tot = F.col("total_freq").cast("double")
    mean = tot / F.lit(k)
    var = F.col("__c2").cast("double") / F.lit(k) - mean * mean
    cv = F.sqrt(F.greatest(F.lit(0.0), var)) / mean
    import math

    d = F.lit(1.0) - cv / F.lit(math.sqrt(k - 1.0))
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    scored = per_term.select(
        F.col("__t").alias("term"),
        "total_freq",
        "n_parts_hit",
        q6(d).alias("d_q6"),
    )
    return scored.orderBy(
        F.col("total_freq").desc(), F.col("term").asc()
    ).limit(top_k)


def burrows_delta(
    docs,
    part_col: str = "source",
    text_col: str = "text",
    top_k: int = 30,
):
    """Burrows' Delta stylistic-outlierness per part: z-score the
    relative frequencies of the corpus's top-k function words across
    parts, then score each part by its mean |z| — the stylometry
    distance that flags a shard whose WORD-USAGE PROFILE (not topic,
    not length) deviates: machine-generated text, a different
    register, a template farm. Complements [[juilland_dispersion]]
    (term-centric evenness) with a part-centric read.

    The grid is completed explicitly (top-k words x parts, a tiny
    crossJoin of two bounded sides) so absent words contribute their
    true z = -mean/sd. Relative frequencies are rationals; the
    per-word mean/sd folds over the part-ordered stepped window and
    each part's mean |z| folds word-ordered — every cross-row float
    reduction is order-pinned. Parts-count and top-k tables are the
    only small materializations (TakeOrdered; no collect). Returns
    (part, n_tokens, delta_q6) — higher = stylistically farther from
    the corpus centroid.
    """
    toks = docs.select(
        F.col(part_col).alias("__p"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    tp = toks.groupBy("__p", "__t").agg(
        F.count("*").cast("long").alias("__c")
    )
    totals = tp.groupBy("__p").agg(
        F.sum("__c").cast("long").alias("__tp")
    )
    topw = (
        tp.groupBy("__t")
        .agg(F.sum("__c").cast("long").alias("__tot"))
        .orderBy(F.col("__tot").desc(), F.col("__t").asc())
        .limit(top_k)
        .select("__t")
    )
    grid = totals.crossJoin(F.broadcast(topw))
    filled = grid.join(tp, ["__p", "__t"], "left").select(
        "__p",
        "__t",
        "__tp",
        (
            F.coalesce(F.col("__c"), F.lit(0)).cast("double")
            / F.col("__tp").cast("double")
        ).alias("__f"),
    )
    pw = Window.partitionBy("__t").orderBy("__p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    pfull = Window.partitionBy("__t")
    wstats = filled.select(
        "__p",
        "__t",
        "__tp",
        "__f",
        F.sum("__f").over(pw).alias("__sf"),
        F.sum(F.col("__f") * F.col("__f")).over(pw).alias("__sf2"),
        F.row_number()
        .over(Window.partitionBy("__t").orderBy("__p"))
        .alias("__rn"),
        F.count("*").over(pfull).alias("__k"),
    )
    per_word = wstats.filter(F.col("__rn") == F.col("__k")).select(
        "__t",
        (F.col("__sf") / F.col("__k").cast("double")).alias("__mean"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("__sf2") / F.col("__k").cast("double")
                - (F.col("__sf") / F.col("__k").cast("double"))
                * (F.col("__sf") / F.col("__k").cast("double")),
            )
        ).alias("__sd"),
    )
    z = filled.join(F.broadcast(per_word), "__t").select(
        "__p",
        "__t",
        "__tp",
        F.when(
            F.col("__sd") > 0,
            F.abs((F.col("__f") - F.col("__mean")) / F.col("__sd")),
        ).otherwise(F.lit(0.0)).alias("__az"),
    )
    dw = Window.partitionBy("__p").orderBy("__t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dfull = Window.partitionBy("__p")
    stepped = z.select(
        "__p",
        "__tp",
        F.sum("__az").over(dw).alias("__sz"),
        F.row_number()
        .over(Window.partitionBy("__p").orderBy("__t"))
        .alias("__rn"),
        F.count("*").over(dfull).alias("__kw"),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return stepped.filter(F.col("__rn") == F.col("__kw")).select(
        F.col("__p").alias("part"),
        F.col("__tp").alias("n_tokens"),
        q6(F.col("__sz") / F.col("__kw").cast("double")).alias(
            "delta_q6"
        ),
    )


def gries_dp(
    docs: DataFrame,
    part_col: str = "source",
    text_col: str = "text",
    top_k: int = 20,
):
    """Gries' Deviation of Proportions (DP) for the corpus's top-k
    terms — the modern dispersion standard next to
    [[juilland_dispersion]]: DP = 0.5 * sum_i |v_i - s_i| with s_i the
    part's share of corpus tokens and v_i the term's share of its own
    occurrences in part i. 0 = the term distributes exactly like the
    corpus, 1 = confined to one vanishing part; DP_norm divides by
    (1 - min_i s_i) so corpora with different part layouts compare.
    Same read as Juilland (a frequent term with high DP is a shard
    artifact) but robust to very uneven part SIZES, which D is not.

    INTEGER-EXACT without a stepped window: absent (term, part) cells
    contribute |0 - s_i| = s_i, so
    sum_i |v_i - s_i| = 1 + [sum_present |c_i*N - P_i*T|]/(T*N)
                          - [sum_present P_i]/N
    — both present-cell sums are exact integers (DECIMAL(38,0) /
    BIGINT; the absolute values are integer before summing, so the
    reduction is order-free), and DP needs just two terminal
    divisions. Plan: one (part, term) count shuffle, one term rollup
    joined to the broadcast part-size table, TakeOrdered top-k.
    Returns (term, total_freq, n_parts_hit, dp_q6, dp_norm_q6), top_k
    by total frequency (term asc tie-break).
    """
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    toks = docs.select(
        F.col(part_col).alias("__p"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("__t"),
    )
    psize = toks.groupBy("__p").agg(
        F.count("*").cast("long").alias("__pn")
    )
    tot = F.broadcast(
        psize.agg(
            F.sum("__pn").cast("long").alias("__nn"),
            F.min("__pn").cast("long").alias("__pmin"),
        )
    )
    tp = toks.groupBy("__t", "__p").agg(
        F.count("*").cast("long").alias("__c")
    )
    cells = tp.join(F.broadcast(psize), "__p")
    per_term = cells.groupBy("__t").agg(
        F.sum("__c").cast("long").alias("total_freq"),
        F.count("*").cast("long").alias("n_parts_hit"),
        F.sum(dec(F.col("__c"))).alias("__tf_d"),
        F.sum("__pn").cast("long").alias("__bp"),
    )
    # A = sum_present |c_i * N - P_i * T| needs T (the term total), so
    # a second pass over the cells with T joined back in
    with_t = cells.join(
        per_term.select("__t", "total_freq"), "__t"
    ).crossJoin(tot)
    a_sum = with_t.groupBy("__t").agg(
        F.sum(
            F.abs(
                dec(F.col("__c")) * dec(F.col("__nn"))
                - dec(F.col("__pn")) * dec(F.col("total_freq"))
            )
        ).alias("__a")
    )
    j = per_term.join(a_sum, "__t").crossJoin(tot)
    t_d = F.col("total_freq").cast("double")
    n_d = F.col("__nn").cast("double")
    dp = F.lit(0.5) * (
        F.lit(1.0)
        + F.col("__a").cast("double") / (t_d * n_d)
        - F.col("__bp").cast("double") / n_d
    )
    smin = F.col("__pmin").cast("double") / n_d
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return (
        j.select(
            F.col("__t").alias("term"),
            "total_freq",
            "n_parts_hit",
            q6(dp).alias("dp_q6"),
            F.when(
                smin < 1.0, q6(dp / (F.lit(1.0) - smin))
            ).alias("dp_norm_q6"),
        )
        .orderBy(F.desc("total_freq"), "term")
        .limit(top_k)
    )
