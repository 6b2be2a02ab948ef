"""End-to-end corpus curation: the composed training-data pipeline the
brief treats as first-class — fingerprint dedup, then language gate, then
quality gate, then token budget, in the order that sheds the most data
with the least compute.

Stage order is a cost decision, not a semantic one:

1. **Fingerprint dedup first** — one shuffle on `md5(normalized text)`;
   at web scale duplicates are 30-60% of the corpus, so everything
   downstream runs on the survivors.
2. **Language + quality + token gates second** — all three are pure
   column expressions (`functions/text.py`, JVM builtins, no Python), so
   Catalyst fuses them into the post-shuffle stage; no extra pass.

Keep-min-id is the dedup winner rule (deterministic, matches
`dedup.exact_dedup`'s convention). The whole plan is ONE shuffle: the
window for keep-min and the gates share the fingerprint partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text
from .text import tokens


def _quant(col, quantize: int):
    """Deterministic integer quantization: round(v * 10^q) as BIGINT.

    Both engines see the IDENTICAL parquet double and both define
    round() as half-away-from-zero, so the mapping is bit-reproducible
    cross-engine (the property every quantized statistic leans on)."""
    return F.round(col.cast("double") * F.lit(10 ** quantize), 0).cast(
        "long"
    )


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Returns surviving rows with the curation evidence columns:
    ``fingerprint, lang, n_tokens, quality`` (+ all original columns).
    A row survives iff it is the minimum-``id_col`` holder of its
    fingerprint AND its detected language is in ``langs`` AND
    ``quality >= min_quality`` AND ``min_tokens <= n_tokens <=
    max_tokens``."""
    c = F.col(text_col)
    annotated = docs.withColumn("fingerprint", text.fingerprint(c))
    w = Window.partitionBy("fingerprint")
    deduped = annotated.withColumn(
        "_keep", F.min(id_col).over(w)
    ).filter(F.col(id_col) == F.col("_keep")).drop("_keep")
    return (
        deduped.withColumn("lang", text.lang_id(c))
        .withColumn("n_tokens", text.token_count(c))
        .withColumn("quality", text.quality_score(c))
        .filter(F.col("lang").isin(*langs))
        .filter(F.col("quality") >= F.lit(min_quality))
        .filter(
            (F.col("n_tokens") >= F.lit(min_tokens))
            & (F.col("n_tokens") <= F.lit(max_tokens))
        )
    )


def curation_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
) -> DataFrame:
    """Per-stage survival counts (the curation report): how many rows each
    gate removed. One aggregation pass over the annotated frame — each row
    is labeled with the FIRST gate that drops it, so stages are disjoint
    and sum to the corpus size."""
    c = F.col(text_col)
    annotated = (
        docs.withColumn("fingerprint", text.fingerprint(c))
        .withColumn("_keep", F.min(id_col).over(Window.partitionBy("fingerprint")))
        .withColumn("lang", text.lang_id(c))
        .withColumn("n_tokens", text.token_count(c))
        .withColumn("quality", text.quality_score(c))
    )
    stage = (
        F.when(F.col(id_col) != F.col("_keep"), F.lit("dup"))
        .when(~F.col("lang").isin(*langs), F.lit("lang"))
        .when(F.col("quality") < F.lit(min_quality), F.lit("low_quality"))
        .when(
            (F.col("n_tokens") < F.lit(min_tokens))
            | (F.col("n_tokens") > F.lit(max_tokens)),
            F.lit("token_bounds"),
        )
        .otherwise(F.lit("kept"))
    )
    return (
        annotated.withColumn("stage", stage)
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


def sequence_pack(
    docs: DataFrame,
    key_col: str = "source",
    order_col: str = "doc_id",
    token_col: str = "n_tok",
    target_tokens: int = 2000,
) -> DataFrame:
    """Training-sequence packing: documents are concatenated per key in
    ``order_col`` order and cut every ``target_tokens`` tokens; each doc
    is assigned to the sequence its starting offset falls in (offset-based
    chunking — the streaming-friendly approximation of bin packing, and
    the one that is deterministic and SQL-expressible). Adds ``seq_idx``.

    Plan: one window (running token sum per key) — a single shuffle on the
    key. At 100 TB the key should be a corpus shard (source/date bucket),
    never a global ordering: a single global sequence order would funnel
    the whole corpus through one task. Exclusive prefix sum (the row's own
    tokens excluded) so a document larger than ``target_tokens`` still
    lands in the sequence where it starts."""
    if target_tokens <= 0:
        raise ValueError("target_tokens must be positive")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return docs.withColumn(
        "seq_idx", F.floor(cum_before / F.lit(target_tokens)).cast("int")
    )


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    numerator: int = 3,
    denominator: int = 10,
) -> F.Column:
    """Deterministic content-hash sampling predicate: keep a row iff
    ``bigint(md5(id)[:15]) % denominator < numerator``. Unlike
    ``df.sample()`` this is reproducible across runs, engines, and
    repartitioning (no RNG state), composes with stratification (apply the
    predicate inside any groupBy), and a row's fate never changes when the
    corpus around it grows — the property incremental 100 TB pipelines
    need. Returns the boolean Column (not a filtered frame) so callers can
    count kept/total in one pass."""
    if not (0 <= numerator <= denominator) or denominator <= 0:
        raise ValueError("need 0 <= numerator <= denominator, denominator > 0")
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (h % F.lit(denominator)) < F.lit(numerator)


def gopher_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 5,
    max_words: int = 1000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_top_word_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style repetition/shape quality signals per document:
    word count, mean word length, and the top-word ratio (most frequent
    word's share — the cheapest repetition detector), plus the combined
    pass/fail gate. Returns (id, n_words, mean_word_len, top_word_ratio,
    passes).

    Plan: explode words -> count per (doc, word) -> per-doc aggregate.
    Two shuffles, both keyed by doc id (the second collapses ~vocab-size
    rows per doc), map-side combinable throughout. The gate compares the
    ROUNDED ratios so an oracle on another engine agrees at boundaries."""
    wds = tokens(F.col(text_col))
    wc = (
        docs.select(F.col(id_col).alias("id"), F.explode(wds).alias("word"))
        .groupBy("id", "word")
        .agg(F.count("*").alias("cnt"))
    )
    agg = wc.groupBy("id").agg(
        F.sum("cnt").alias("n_words"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * F.length("word")).alias("total_len"),
    )
    mean_len = F.round(F.col("total_len") / F.col("n_words"), 4)
    top_ratio = F.round(F.col("top_cnt") / F.col("n_words"), 4)
    out = agg.select(
        "id",
        "n_words",
        mean_len.alias("mean_word_len"),
        top_ratio.alias("top_word_ratio"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("top_word_ratio") <= max_top_word_ratio)
    )
    return out.withColumn("passes", passes)


def repetition_signals(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngrams: tuple = (2, 3),
    max_dup_frac: float = 0.6,
    max_top_frac: float = 0.08,
) -> DataFrame:
    """Repeated-n-gram repetition signals per document — the
    Gopher/MassiveText family one level above ``gopher_signals``'s
    single-word ratio (Rae et al. 2021 §A1.1 drop documents whose
    duplicate- and top-n-gram fractions exceed thresholds; 2- and
    3-grams are the strongest of their reported bands).

    For each n in ``ngrams`` emits, per document:
      dup_{n}gram_frac  — fraction of n-gram occurrences that are
                          repeats (1 - distinct/total): boilerplate and
                          stutter loops push this toward 1,
      top_{n}gram_frac  — the most frequent n-gram's share of all
                          n-gram occurrences (templated spam detector),
    plus the combined ``passes`` gate over the ROUNDED fractions (so an
    oracle on another engine agrees at threshold boundaries).

    Plan (per n): n-grams are formed map-side by zipping array slices —
    no window, no join; count per (doc, gram); per-doc aggregate. Both
    shuffles are keyed by doc id, map-side combinable; the per-n outputs
    join back on the doc key (same partitioning, AQE coalesces). Docs
    with fewer than max(ngrams) tokens still appear (fractions of the
    n-gram orders they do reach; missing orders are 0-row -> inner join
    keeps docs that have every order, matching the oracle).
    """
    wds = tokens(F.lower(F.col(text_col)))
    base = docs.select(F.col(id_col).alias("id"), wds.alias("toks"))
    out = None
    for n in ngrams:
        sz = F.size("toks")
        grams = F.col("toks")
        for off in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice("toks", off + 1, sz - off),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        # zip_with pads the shorter side with null (concat -> null tail
        # entries past position sz-n+1); slice to the exact n-gram count.
        grams = F.slice(grams, 1, sz - (n - 1))
        gc = (
            base.filter(sz >= n)
            .select("id", F.explode(grams).alias("gram"))
            .groupBy("id", "gram")
            .agg(F.count("*").alias("cnt"))
        )
        agg = gc.groupBy("id").agg(
            F.sum("cnt").alias("total"),
            F.count("*").alias("n_distinct"),
            F.max("cnt").alias("top_cnt"),
        )
        per_n = agg.select(
            "id",
            F.round(1 - F.col("n_distinct") / F.col("total"), 4).alias(
                f"dup_{n}gram_frac"
            ),
            F.round(F.col("top_cnt") / F.col("total"), 4).alias(
                f"top_{n}gram_frac"
            ),
        )
        out = per_n if out is None else out.join(per_n, "id")
    passes = F.lit(True)
    for n in ngrams:
        passes = (
            passes
            & (F.col(f"dup_{n}gram_frac") <= max_dup_frac)
            & (F.col(f"top_{n}gram_frac") <= max_top_frac)
        )
    return out.withColumn("passes", passes)


def materialize_mix(
    docs: DataFrame,
    source_col: str,
    size_col: str,
    id_col: str = "doc_id",
    shares: dict | None = None,
    alpha: float | None = None,
) -> DataFrame:
    """MATERIALIZE a training-data mix: downsample each source so the
    kept corpus approaches the target ``shares`` (source -> fraction;
    default uniform) — the step after ``source_mix_weights`` computes
    what the weights should be.

    ``alpha`` (mutually exclusive with ``shares``) derives the targets
    from the corpus itself: w_s ∝ T_s^alpha — the mBERT/XLM-R
    "exponentiated smoothing" sampler (alpha=1 keeps natural
    proportions, alpha=0 is uniform, 0.3-0.7 the usual multilingual
    range: big sources damped, small sources boosted). Computed
    in-plan from the same per-source totals, no driver state.

    Per-source keep rate: with T_s = total ``size_col`` of source s and
    w_s its target share, the largest feasible mix budget is
    B = min_s T_s / w_s (no source can be up-sampled without
    replacement); rate_s = w_s * B / T_s, so the bottleneck source keeps
    everything and the rest downsample proportionally. Selection is the
    deterministic md5 predicate of ``hash_sample`` against an integer
    threshold — reproducible across runs, engines, and corpus growth.

    Plan: one small per-source aggregate (map-combinable), B folded in
    with a cross of the one-row minimum, rates broadcast back to the
    corpus, keep-predicate map-side. The 100 TB corpus never shuffles.
    Returns the kept rows unchanged. Sources missing from ``shares``
    are dropped (share 0); doc-level sampling approximates the
    token-level target with per-doc-size variance.
    """
    if shares is not None and alpha is not None:
        raise ValueError("shares and alpha are mutually exclusive")
    totals = docs.groupBy(source_col).agg(
        F.sum(size_col).cast("double").alias("t_s")
    )
    if alpha is not None:
        z = totals.agg(
            F.sum(F.pow("t_s", F.lit(float(alpha)))).alias("z")
        )
        totals = totals.crossJoin(F.broadcast(z)).withColumn(
            "w_s", F.pow("t_s", F.lit(float(alpha))) / F.col("z")
        )
    elif shares is None:
        n_src = totals.count()  # tiny table; fixes uniform share = 1/K
        totals = totals.withColumn("w_s", F.lit(1.0 / n_src))
    else:
        w = F.create_map(
            *[F.lit(x) for kv in shares.items() for x in kv]
        )[F.col(source_col)]
        totals = totals.withColumn("w_s", w).filter(F.col("w_s").isNotNull())
    budget = totals.agg(F.min(F.col("t_s") / F.col("w_s")).alias("b"))
    rates = totals.crossJoin(F.broadcast(budget)).select(
        source_col,
        # integer threshold out of 1e6 so both engines compare exactly
        F.round(F.col("w_s") * F.col("b") / F.col("t_s") * 1_000_000)
        .cast("long")
        .alias("keep_ppm"),
    )
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), source_col)
        .filter((h % 1_000_000) < F.col("keep_ppm"))
        .drop("keep_ppm")
        .select(*docs.columns)
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
    k: int,
) -> DataFrame:
    """Per-group quota cap: keep the best ``k`` rows per ``group_col``
    under ``order_cols`` (must be a total order for determinism — append
    a unique id as the last key). The web-scale curation use: cap the
    number of documents any single domain/source contributes so hot
    domains can't dominate a training mix.

    Plan: window ``row_number <= k``. Declared this way, Spark >= 3.5
    inserts ``WindowGroupLimit`` below the shuffle — each map task keeps
    only its local top-k per group before the exchange, so the shuffle
    carries O(groups x k) per task, not the whole corpus (pinned in
    tests/test_curate.py). A hot group therefore costs its reducer at
    most ``maps x k`` rows, not the group's full size — this is the
    skew-safe top-k the brief asks about at 100 TB.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if "rn" in df.columns:
        raise ValueError(
            "cap_per_group emits a 'rn' column; input already has one — "
            "rename it first"
        )
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def source_mix_weights(
    df: DataFrame,
    source_col: str,
    weight_col,
    target_shares: dict | None = None,
) -> DataFrame:
    """Training-mixture reweighting: given a corpus and a per-row weight
    (token count, usually), compute each source's actual share of the
    mix and the sampling weight that moves it to its target share
    (uniform across sources unless ``target_shares`` gives explicit
    fractions). ``weight > 1`` means upsample (epochs over that source),
    ``< 1`` means downsample — the knob a data-mixing stage feeds to a
    hash_sample per source.
    Returns (source, tokens, actual_share, target_share, weight).

    Scale: one map-side-combinable sum per source is the only pass over
    the corpus; the share/weight math runs on the post-aggregation table
    (one row per source — tiny by construction), where the empty-frame
    window's single-partition exchange is free."""
    wcol = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    per = df.groupBy(source_col).agg(
        F.sum(wcol).cast("long").alias("tokens")
    )
    if target_shares is not None:
        total_share = sum(target_shares.values())
        if abs(total_share - 1.0) > 1e-9:
            raise ValueError(
                f"target_shares must sum to 1, got {total_share}"
            )
        tgt = F.coalesce(
            *[
                F.when(F.col(source_col) == s, F.lit(float(v)))
                for s, v in target_shares.items()
            ],
            F.lit(0.0),
        )
    else:
        tgt = None
    w = Window.partitionBy()
    total = F.sum("tokens").over(w)
    if tgt is None:
        tgt = F.lit(1.0) / F.count("*").over(w)
    actual = F.col("tokens") / total
    return per.select(
        F.col(source_col),
        "tokens",
        F.round(actual, 6).alias("actual_share"),
        F.round(tgt, 6).alias("target_share"),
        F.round(tgt / actual, 6).alias("weight"),
    )


def dedup_lines(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repeated-line removal — the within-doc repetition
    scrub (nav bars, footers, pasted-again paragraphs) that corpus-level
    dedup can't see because the duplication never crosses a document
    boundary (the Gopher/C4 'repetition' family, applied structurally).

    Keeps the FIRST occurrence of every line, in original order:
    ``array_distinct`` preserves first-occurrence order, so the whole op
    is split -> array_distinct -> concat_ws — a pure per-row column
    expression, map-only, zero shuffles, whole-stage codegen; at 100 TB
    this costs exactly one pass over the text bytes.

    Returns (id, n_lines, n_unique_lines, cleaned_text); rows where
    nothing repeats pass through with n_lines == n_unique_lines.
    """
    lines = F.split(F.col(text_col), r"\n")
    uniq = F.array_distinct(lines)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(uniq).alias("n_unique_lines"),
        F.concat_ws("\n", uniq).alias("cleaned_text"),
    )


def hashed_linear_score(
    text_col, n_buckets: int = 2001
) -> F.Column:
    """Hashed bag-of-words linear classifier score — the fastText-style
    quality-classifier shape (hash token -> bucket -> weight, mean over
    tokens) with a DETERMINISTIC weight table derived from the hash
    itself (w = (h mod n_buckets - half) / half in [-1, 1]), so the
    score is reproducible across engines without shipping a model file:
    DuckDB computes the identical value from md5 hex, which is what lets
    the oracle value-hash a 'model' inference end to end.

    All JVM builtins: split/filter produce the token array once; the
    fold (``F.aggregate``) hashes each token exactly once inside the
    lambda (per-token work is per-token — the Catalyst lambda-inlining
    trap only bites when an OUTER expression is referenced inside the
    lambda). Map-only, no shuffle, ~one md5 per token — the cheap gate
    you run on 100 TB before anything that shuffles.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    half = (n_buckets - 1) // 2
    toks = tokens(F.lower(c))

    # sum the INTEGER weight numerators and divide exactly once: a
    # per-token float divide + float fold accumulates summation-order
    # ulps that another engine cannot reproduce (observed at sf0.1:
    # 4/5000 scores off by 1e-4 after rounding). The integer sum is
    # exact on every engine; one final division is bit-identical.
    def wnum(t):
        h = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
        return h % n_buckets - half

    num = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + wnum(t)
    )
    return F.when(
        F.size(toks) > 0,
        num.cast("double") / (F.size(toks) * F.lit(half)).cast("double"),
    ).otherwise(F.lit(0.0))


def split_assign(
    id_col="doc_id",
    val_pct: int = 10,
    test_pct: int = 10,
    salt: str = "",
) -> F.Column:
    """Deterministic train/val/test split assignment — the dataset-
    versioning primitive every training pipeline needs: a row's split is
    a pure function of its id (+ optional salt), so it never changes when
    the corpus grows, survives repartitioning, and reproduces on any
    engine (same ``bigint(md5[:15])`` contract as ``hash_sample``).

    Percentages are integer percent points; buckets [0, test) -> 'test',
    [test, test+val) -> 'val', rest -> 'train'. ``salt`` derives an
    independent split family (e.g. per experiment) from the same ids.

    Map-only Column — no shuffle; stratification comes free by grouping
    the result with any stratum column.
    """
    if val_pct < 0 or test_pct < 0 or val_pct + test_pct > 100:
        raise ValueError("need val_pct, test_pct >= 0 and sum <= 100")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(salt))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(h < test_pct, F.lit("test"))
        .when(h < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def word_entropy(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document unigram (word) Shannon entropy in bits — the
    lexical-diversity quality gate (low entropy = repetitive boilerplate
    / keyword stuffing; complements ``repetition_signals``' n-gram view
    and ``unigram_perplexity``'s corpus-model view with a model-free
    per-doc statistic).

    H = log2(n) - (sum over words of c*log2(c)) / n, computed from TWO
    map-combinable aggregates over the (doc, word) counts — one explode,
    two partial-agg shuffles keyed by doc, no joins, no Python. Entropy
    floor-quantizes to 4dp (the repo's cross-engine float emitter rule).

    Returns (doc_id, n_tokens, n_distinct, entropy_bits).
    """
    ln2 = 0.6931471805599453
    wc = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log("c")).alias("clogc"),
    )
    ent = (F.log(F.col("n").cast("double")) - F.col("clogc") / F.col("n")) / F.lit(ln2)
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        (F.floor(ent * 10000) / 10000).alias("entropy_bits"),
    )


def chunk_sliding(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Sliding-window token chunking with overlap — the RAG/embedding
    chunker (overlap = ``size - stride`` tokens carries context across
    chunk boundaries). Emits ``(doc_id, chunk_idx, start, n_chunk_tokens,
    chunk_fp)``: 0-based token offsets, a chunk for every start in
    ``0, stride, 2*stride, ...`` below the token count (the tail chunk may
    be short — every token lands in >=1 chunk), md5 fingerprint of the
    space-joined chunk for downstream chunk-level dedup
    (cf. ``dedup.chunk_*``). Token-free docs emit nothing.

    Map-side only: tokenize -> sequence -> explode -> slice, no shuffle —
    the chunk table inherits the corpus partitioning, which is exactly
    what the embedding stage downstream wants.
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("toks"),
        F.size(toks).alias("n"),
    ).filter(F.col("n") > 0)
    exploded = base.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(stride))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start") + 1, size)
    return exploded.select(
        "doc_id",
        (F.col("start") / stride).cast("int").alias("chunk_idx"),
        F.col("start").cast("int").alias("start"),
        F.size(chunk).cast("int").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_fp"),
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_line_df: int = 2,
) -> DataFrame:
    """C4-style corpus-frequent line removal: drop every LINE (split on
    \\n, byte-exact) that occurs in more than ``max_line_df`` distinct
    documents — navigation chrome, cookie banners, copyright footers —
    and rebuild each doc from its surviving lines in original order.
    Returns ``(doc_id, clean_text, n_kept, n_dropped)``; a doc whose
    every line is boilerplate survives with ``clean_text = ''`` (the
    downstream length gate decides its fate, not this operator).

    Plan: one posexplode (map-side), one line-keyed count-distinct
    aggregate (partial aggregation absorbs hot boilerplate lines — the
    very lines this op exists for), one join back on the line, one
    doc-keyed reassembly via sort_array(collect_list). The line DF
    table is vocabulary-sized, not corpus-sized.
    """
    lines = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    ldf = lines.groupBy("line").agg(
        F.count_distinct("doc_id").alias("ldf")
    )
    kept = lines.join(ldf, "line").filter(F.col("ldf") <= max_line_df)
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_kept"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("__n_lines")
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
        (F.col("__n_lines") - F.coalesce("n_kept", F.lit(0))).cast(
            "long"
        ).alias("n_dropped"),
    )


def source_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise cosine similarity between per-group term-frequency
    vectors — the "how alike are my corpus sources / snapshots" drift
    report (sources that converge are candidates for dedup across them;
    a source that diverges from all others needs its own quality
    review). Returns ``(src1, src2, dot, cos_q)`` for src1 < src2.

    Exactness: term counts are integers, so the dot product and both
    squared norms are EXACT BIGINTs; cosine is ``dot / (sqrt(n1) *
    sqrt(n2))`` — two sqrts then one multiply+divide on bit-identical
    doubles (``sqrt(n1*n2)`` would overflow BIGINT at corpus scale),
    floor-6dp. Shuffles: one combinable (group, term) count, one
    term-keyed join whose per-term fan-out is at most #groups² — groups
    are sources (dozens), never documents.
    """
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    tf = toks.groupBy("g", "tok").agg(F.count("*").alias("c"))
    norms = tf.groupBy("g").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("n2")
    )
    dots = (
        tf.select(F.col("g").alias("src1"), "tok", F.col("c").alias("c1"))
        .join(
            tf.select(
                F.col("g").alias("src2"), "tok", F.col("c").alias("c2")
            ),
            "tok",
        )
        .filter(F.col("src1") < F.col("src2"))
        .groupBy("src1", "src2")
        .agg(F.sum(F.col("c1") * F.col("c2")).cast("long").alias("dot"))
    )
    out = (
        dots.join(
            norms.select(F.col("g").alias("src1"), F.col("n2").alias("n2a")),
            "src1",
        )
        .join(
            norms.select(F.col("g").alias("src2"), F.col("n2").alias("n2b")),
            "src2",
        )
        .select(
            "src1",
            "src2",
            "dot",
            (
                F.floor(
                    F.col("dot").cast("double")
                    / (
                        F.sqrt(F.col("n2a").cast("double"))
                        * F.sqrt(F.col("n2b").cast("double"))
                    )
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("cos_q"),
        )
    )
    return out


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
    k: int = 5,
) -> DataFrame:
    """K-anonymity audit over a quasi-identifier combination — the
    re-identification risk gate a corpus with user-derived metadata
    runs next to [[pii_scrub]]: any combination of quasi-identifier
    values shared by fewer than ``k`` rows is a linkage risk (its
    members are identifiable by joining public attributes). Emits one
    row per OBSERVED combination: (quasi..., n, at_risk) — integer
    counts from ONE map-combinable groupBy, no second corpus pass.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn("at_risk", F.col("n") < F.lit(k))
    )


def l_diversity_report(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """L-diversity audit — the attribute-disclosure companion to
    [[k_anonymity_report]]: a quasi-identifier combination can be
    k-anonymous yet still leak (every member shares the SAME sensitive
    value, so linking any member reveals it). A combination is
    l-diverse when its members carry at least ``l`` distinct sensitive
    values. Emits one row per observed combination:
    (quasi..., n, n_sensitive, at_risk).

    Plan: one groupBy on (quasi..., sensitive) — map-combinable — then
    a re-aggregation over that bounded table; exact counts only, never
    approx_count_distinct (an audit must not under-count risk).
    """
    if l < 1:
        raise ValueError("l must be >= 1")
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count("*").cast("long").alias("__c")
    )
    return (
        cells.groupBy(*quasi_cols)
        .agg(
            F.sum("__c").cast("long").alias("n"),
            F.count("*").cast("long").alias("n_sensitive"),
        )
        .withColumn("at_risk", F.col("n_sensitive") < F.lit(l))
    )


def t_closeness_report(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
    sensitive_col: str,
    t: float = 0.2,
    quantize: int = 0,
) -> DataFrame:
    """T-closeness audit — the distribution-level privacy gate above
    [[l_diversity_report]]: a quasi-identifier combination passes
    l-diversity yet still leaks when its sensitive-value DISTRIBUTION
    differs sharply from the corpus-wide one (skewness attack: "this
    cell is diverse, but 95% of it is the rare value"). A combination
    is t-close when the 1-D Wasserstein distance between its sensitive
    distribution and the GLOBAL distribution is <= ``t`` (the numeric-
    attribute EMD form of the original paper, normalized to value
    units).

    Exact-integer construction inherited from [[wasserstein_1d]]:
    per-(combo, value) counts, a dense combo x distinct-value grid
    (bounded: combo cardinality x value cardinality — quantize
    continuous attributes upstream, the module contract), one ordered
    window PER COMBO; each step is the DECIMAL(38,0) integer
    ``|cumG*N - cumT*n_g| * Δv`` and each combo divides ONCE at the
    emit by ``n_g * N * 10^quantize``. No cross-row float sums.

    Plan: one map-combinable groupBy on (quasi..., value); the global
    per-value table and the combo-size table re-aggregate that bounded
    cell table; the grid is a broadcast crossJoin of two bounded
    dimensions. Emits one row per observed combination:
    (quasi..., n, t_q6, at_risk).
    """
    if not quasi_cols:
        raise ValueError("need at least one quasi-identifier column")
    v = F.round(
        F.col(sensitive_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    base = df.select(*quasi_cols, v.alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    cells = base.groupBy(*quasi_cols, "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    vals = cells.groupBy("__v").agg(
        F.sum("__c").cast("long").alias("__cv")
    )
    groups = cells.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("__ng")
    )
    total = F.broadcast(
        vals.agg(F.sum("__cv").cast("long").alias("__nn"))
    )
    grid = groups.crossJoin(F.broadcast(vals)).join(
        cells, [*quasi_cols, "__v"], "left"
    )
    upto = (
        Window.partitionBy(*quasi_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordg = Window.partitionBy(*quasi_cols).orderBy("__v")
    cg = F.sum(F.coalesce(F.col("__c"), F.lit(0))).over(upto)
    ct = F.sum("__cv").over(upto)
    run = grid.select(
        *quasi_cols,
        "__ng",
        "__v",
        F.lag("__v").over(ordg).alias("__v_prev"),
        F.lag(cg).over(ordg).alias("__pG"),
        F.lag(ct).over(ordg).alias("__pT"),
    )
    dec = "decimal(38,0)"
    step = F.abs(
        F.col("__pG").cast(dec) * F.col("__nn").cast(dec)
        - F.col("__pT").cast(dec) * F.col("__ng").cast(dec)
    ) * (F.col("__v") - F.col("__v_prev")).cast(dec)
    per_g = (
        run.crossJoin(total)
        .groupBy(*quasi_cols)
        .agg(
            F.max("__ng").alias("__ng"),
            F.max("__nn").alias("__nn"),
            F.sum(
                F.when(F.col("__v_prev").isNotNull(), step)
            ).alias("__emd_int"),
        )
    )
    scale = float(10 ** quantize)
    t_q6 = F.floor(
        F.coalesce(
            F.col("__emd_int"), F.lit(0).cast(dec)
        ).cast("double")
        / (
            F.col("__ng").cast("double")
            * F.col("__nn").cast("double")
            * F.lit(scale)
        )
        * F.lit(1e6)
    ) / F.lit(1e6)
    return per_g.select(
        *quasi_cols,
        F.col("__ng").alias("n"),
        t_q6.alias("t_q6"),
        (t_q6 > F.lit(float(t))).alias("at_risk"),
    )


def suppress_rare_combos(
    df: DataFrame,
    quasi_cols: tuple[str, ...],
    k: int = 5,
) -> DataFrame:
    """Enforcement twin of [[k_anonymity_report]]: drop every row whose
    quasi-identifier combination has fewer than ``k`` members
    (suppression — the baseline k-anonymity mechanism; generalization
    ladders are a policy layer above this primitive). ONE shuffle: a
    count window over the quasi key on the same exchange a groupBy
    would use, then a filter — no join, no second pass; skew bounded by
    the largest combination (which by construction is the SAFE one).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(*quasi_cols)
    return (
        df.withColumn("__qn", F.count("*").over(w))
        .filter(F.col("__qn") >= k)
        .drop("__qn")
    )


def negative_sample(
    pairs: DataFrame,
    n_items: int,
    k: int = 4,
    anchor_col: str = "anchor_id",
    pos_col: str = "pos_id",
    oversample: int = 3,
    seed: str = "neg",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive training
    pairs: for each distinct anchor in ``pairs``, draw up to ``k``
    negative item ids from the dense id universe ``[0, n_items)`` that
    are neither the anchor itself nor any of its positives. The
    ``(anchor, slot)`` md5 draw makes every negative a pure function of
    the pair table — reproducible across runs, engines and
    repartitioning, the property a resumable 100 TB pipeline needs
    (re-running a failed shard regenerates byte-identical training
    pairs). Dense-id contract: items must be keyed 0..n_items-1 (the
    corpus tables here are); for sparse keys map through a dense index
    first.

    Collision handling without rejection loops: ``oversample*k`` slots
    are drawn map-side (one explode), anchor-hits and positive-hits are
    removed by filter + one anti-join on (anchor, candidate), duplicate
    candidates keep their SMALLEST slot, and the survivors rank by slot
    — fewer than ``k`` only when the universe is nearly exhausted by
    positives (document, don't loop). Plan: explode (map-only) ->
    groupBy (anchor, cand) -> anti-join -> rank window on the anchor
    key. Returns (anchor, neg_id, slot).
    """
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    if n_items < 2:
        raise ValueError("n_items must be >= 2")
    anchors = pairs.select(F.col(anchor_col).alias("__a")).distinct()
    slots = anchors.select(
        "__a",
        F.explode(
            F.sequence(F.lit(0), F.lit(oversample * k - 1))
        ).alias("__slot"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed),
                    F.lit("|"),
                    F.col("__a").cast("string"),
                    F.lit(":"),
                    F.col("__slot").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cand = slots.select(
        "__a", "__slot", (h % F.lit(n_items)).alias("__c")
    ).filter(F.col("__c") != F.col("__a"))
    first = cand.groupBy("__a", "__c").agg(
        F.min("__slot").alias("__slot")
    )
    pos = pairs.select(
        F.col(anchor_col).alias("__a"), F.col(pos_col).alias("__c")
    ).distinct()
    clean = first.join(pos, ["__a", "__c"], "left_anti")
    w = Window.partitionBy("__a").orderBy(
        F.col("__slot").asc(), F.col("__c").asc()
    )
    return (
        clean.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(
            F.col("__a").alias(anchor_col),
            F.col("__c").alias("neg_id"),
            F.col("__slot").cast("int").alias("slot"),
        )
    )


def ngram_commonness(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    common_df: int = 5,
) -> DataFrame:
    """Per-document n-gram commonness — the boilerplate / template-risk
    score: the share of a document's DISTINCT word n-grams that appear
    in at least ``common_df`` documents corpus-wide. High commonness
    marks templated/boilerplate pages (navigation chrome, legal
    footers, scraped mirrors) that [[exact_dedup]] misses because the
    documents differ SOMEWHERE; its complement is a novelty score for
    sampling toward fresh content.

    Integer-exact end-to-end: shingles via [[dedup.word_shingles]]
    (distinct per doc, so the shingle's row count IS its document
    frequency — one combinable count), the per-doc rollup is two BIGINT
    counts, and ``common_ppm = floor(n_common * 1e6 / n_shingles)``
    (exact: the products stay far below 2^53). Docs with fewer than
    ``n`` words carry no shingles and drop out — the caller's length
    gate (Gopher min-words) runs first in any real pipeline.

    Plan: one shuffle to distinct the (doc, shingle) pairs, one
    combinable DF count keyed by shingle, one shingle-keyed join back
    (both sides shingle-partitioned — co-located), one doc-keyed
    rollup. No window, no collect. Returns (id, n_shingles, n_common,
    common_ppm).
    """
    from .dedup import word_shingles

    sh = word_shingles(docs, id_col, text_col, n=n, distinct=True)
    dfreq = sh.groupBy("shingle").agg(
        F.count("*").cast("long").alias("__df")
    )
    return (
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(
                (F.col("__df") >= F.lit(int(common_df))).cast("long")
            ).alias("n_common"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_shingles",
            "n_common",
            F.floor(
                F.col("n_common") * F.lit(1_000_000) / F.col("n_shingles")
            ).cast("long").alias("common_ppm"),
        )
    )


def leakage_free_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "id1",
    id2: str = "id2",
    val_pct: int = 10,
    test_pct: int = 10,
    salt: str = "",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: the split is a pure md5 function of each document's
    NEAR-DUP COMPONENT representative, not of the document id — every
    member of a duplicate cluster lands in the same split by
    construction. A per-doc split (``split_assign`` alone) silently
    puts one copy of a duplicated page in train and its twin in val,
    inflating eval scores — the classic leakage bug this composition
    removes (same failure class as benchmark contamination, but
    INTERNAL to the corpus).

    ``pairs`` is any candidate pair table (MinHash/SimHash/Jaccard/
    embedding); components come from [[connected_components]] (smallest
    member id labels the cluster), singleton docs are their own
    representative via coalesce. The component table is candidate-graph
    sized (only docs that collided), so the join back to the corpus is
    a small-side equi-join; the split itself stays a map-only pure
    function — stable under corpus growth and repartitioning, like
    every sampling predicate in this module.

    Returns docs + (group_key, split).
    """
    from .dedup import connected_components

    comps = connected_components(pairs, id1=id1, id2=id2).withColumnRenamed(
        "node", id_col
    )
    out = (
        docs.join(comps, id_col, "left")
        .withColumn(
            "group_key",
            F.coalesce(F.col("component"), F.col(id_col)).cast("long"),
        )
        .drop("component")
    )
    return out.withColumn(
        "split", split_assign("group_key", val_pct, test_pct, salt)
    )


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the model-free redundancy
    gate several web-corpus pipelines apply alongside the Gopher rules:
    templated/keyword-stuffed pages compress far below natural prose,
    and near-random noise barely compresses at all, so both tails are
    suspect. Complements [[repetition_signals]] (fixed n-gram window)
    and [[word_entropy]] (unigram-only) with an ALL-orders redundancy
    measure (LZ77 window + Huffman).

    ratio = deflate_bytes / utf8_bytes, rounded to 4; empty text gives
    NULL. Deterministic: zlib at a fixed level is a pure function of the
    bytes, so results are stable across runs and engines — but NOT
    SQL-expressible, hence no DuckDB oracle (rows-only registry entry;
    value pins live in tests with hand-built high/low-redundancy docs).

    Arrow-batched pandas UDF; the per-row Python is irreducible (zlib
    has no vectorized form) and the op is map-only — no shuffle, scales
    embarrassingly.

    Returns (id, n_bytes, z_bytes, ratio).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def _deflate_len(texts):
        import zlib

        return pd.Series(
            [
                None
                if t is None or t == ""
                else len(zlib.compress(t.encode("utf-8"), level))
                for t in texts
            ],
            dtype="Int64",
        )

    # one zlib pass per row in the UDF; byte length and the ratio stay
    # JVM-side (octet_length + one division)
    out = docs.select(
        F.col(id_col),
        F.octet_length(text_col).alias("n_bytes"),
        _deflate_len(F.col(text_col)).alias("z_bytes"),
    )
    return out.withColumn(
        "ratio",
        F.when(
            F.col("n_bytes") > 0,
            F.round(F.col("z_bytes") / F.col("n_bytes"), 4),
        ),
    )


def span_corruption_plan(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    mask_permille: int = 150,
    span_len: int = 20,
) -> DataFrame:
    """Deterministic span-corruption plan (the T5 denoising-objective
    shape): for each document, emit the character spans to mask so
    that ~mask_permille/1000 of the text is covered by spans of
    ``span_len`` chars. Spans are a PURE FUNCTION of (doc id, span
    index) via md5 — no RNG state, any executor (or a re-run, or the
    oracle) re-derives the identical plan, which is what makes a
    masking schedule reproducible across a 10^12-row corpus and a
    resumed job. Candidate spans may overlap; feed them through
    [[interval_union]] (operators/temporal.py) when the objective
    needs disjoint spans — T5's jittered lengths add nothing a fixed
    length doesn't at corpus scale.

    EXACT cross-engine: n_spans = floor(len * permille / (1000 *
    span_len)) and start = md5_48bit(id:idx) mod (len - span_len + 1)
    are pure BIGINT arithmetic (the repo's 12-hex-char md5-to-int
    convention, `q_weighted_sample`). Plan: map-only sequence explode
    — zero shuffle. Returns (id, span_idx, start, length); documents
    shorter than span_len or with n_spans = 0 emit nothing.
    """
    if not 0 < mask_permille < 1000:
        raise ValueError("mask_permille must be in (0, 1000)")
    if span_len < 1:
        raise ValueError("span_len must be >= 1")
    ln = F.col(len_col).cast("long")
    n_spans = F.floor(
        ln * F.lit(mask_permille) / F.lit(1000 * span_len)
    ).cast("long")
    base = df.select(
        F.col(id_col).alias("id"),
        ln.alias("__len"),
        n_spans.alias("__k"),
    ).filter((F.col("__k") > 0) & (ln >= F.lit(span_len)))
    spans = base.select(
        "id",
        "__len",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("__k") - 1)
        ).alias("span_idx"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("id").cast("string"),
                    F.lit(":"),
                    F.col("span_idx").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("long")
    start = h % (F.col("__len") - F.lit(span_len) + 1)
    return spans.select(
        "id",
        "span_idx",
        start.alias("start"),
        F.lit(span_len).cast("long").alias("length"),
    )


def curriculum_stages(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_stages: int = 4,
    quantize: int = 4,
) -> DataFrame:
    """Curriculum-learning schedule: bucket the corpus into
    ``n_stages`` equal-frequency difficulty stages (easy -> hard by
    ``score_col``) and give every row a deterministic intra-stage
    shuffle key — the two columns a curriculum data loader needs. The
    intended write is ``repartitionByRange("stage", "sort_key")`` so
    consumers stream stage 0 first with rows pre-shuffled WITHIN each
    stage; no global row_number over the corpus is ever materialized
    (a 10^12-row single-partition rank is exactly the scale-killer
    this avoids — ordering lives in the range partitioner).

    Stage assignment is tie-stable and engine-exact: over the
    distinct-score count table, a row's stage is floor(cb * k / n)
    where cb = count of strictly smaller rows — INTEGER arithmetic,
    ties share a stage by construction (ntile would split them by
    arrival order). The shuffle key is the md5 of the id — the repo's
    standard deterministic-randomness contract. Plan: one (score ->
    count) shuffle, stage mapping joins back as a broadcast of the
    distinct-score table. Returns (id, score_q, stage, sort_key).
    """
    sq = _quant(F.col(score_col), quantize)
    base = df.select(
        F.col(id_col).alias("id"), sq.alias("score_q")
    ).filter(F.col("score_q").isNotNull())
    cnt = base.groupBy("score_q").agg(
        F.count("*").cast("long").alias("__c")
    )
    w = Window.orderBy("score_q").rowsBetween(
        Window.unboundedPreceding, -1
    )
    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    k = int(n_stages)
    staged = cnt.select(
        "score_q",
        F.coalesce(F.sum("__c").over(w), F.lit(0)).alias("__cb"),
        F.sum("__c").over(full).alias("__n"),
    ).select(
        "score_q",
        F.least(
            F.lit(k - 1),
            F.floor(F.col("__cb") * F.lit(k) / F.col("__n")).cast("int"),
        ).alias("stage"),
    )
    return base.join(F.broadcast(staged), "score_q").select(
        "id",
        "score_q",
        "stage",
        F.md5(F.col("id").cast("string")).alias("sort_key"),
    )


def dp_group_counts(
    df: DataFrame,
    group_cols: tuple,
    eps_num: int = 1,
    eps_den: int = 1,
    seed: str = "dp0",
) -> DataFrame:
    """Laplace-mechanism released group counts: count + Lap(1/eps)
    noise per group (count queries have sensitivity 1 under
    add/remove-one-row), clamped at 0 — the shape of every
    privacy-budgeted stats release over [[k_anonymity_report]]-style
    partitions. eps is the rational ``eps_num/eps_den``.

    The noise here is SEEDED (md5 of seed || group key -> uniform ->
    inverse-CDF Laplace) so the release is reproducible and
    cross-engine checkable; that determinism is for TESTS — a
    production release must draw the seed fresh and keep it secret,
    or the mechanism provides no privacy. Uniform u lands on the
    half-open 1e12 grid offset by 0.5 so |u - 0.5| is never 0.5
    exactly (ln(0) unreachable) on either engine.

    Map-combinable count + per-group scalar noise expression; no
    extra shuffle. Returns (group..., n_true, released_q6) — callers
    releasing for real drop n_true.
    """
    gcols = list(group_cols)
    counts = df.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_true")
    )
    key = F.concat_ws(
        "\x1f", F.lit(seed), *[F.col(c).cast("string") for c in gcols]
    )
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    u = (
        (h % F.lit(10 ** 12)).cast("double") + F.lit(0.5)
    ) / F.lit(1e12)
    b = F.lit(float(eps_den)) / F.lit(float(eps_num))
    centered = u - F.lit(0.5)
    noise = (
        -b
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    released = F.greatest(
        F.lit(0.0), F.col("n_true").cast("double") + noise
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return counts.select(
        *gcols,
        "n_true",
        q6(released).alias("released_q6"),
    )


def neyman_allocation(
    df: DataFrame,
    stratum_cols: tuple,
    value_col: str,
    total_n: int,
    quantize: int = 2,
) -> DataFrame:
    """Optimal (Neyman) sample allocation across strata for a given
    sampling budget: n_h proportional to N_h * S_h — big OR noisy
    strata get more of the budget, the design that minimizes the
    variance of the stratified mean at fixed cost. The planning step
    before a [[hash_sample]]-per-stratum audit draw.

    N_h and the sample-sd moments are BIGINT aggregates; the
    denominator sum_h N_h S_h folds in fixed stratum order (stepped
    window over the strata table — strata count, not row count).
    n_alloc is the floor of the exact fraction; the emitted fractions
    sum to 1. Returns (stratum..., n_rows, sd_q6, alloc_frac_q6,
    n_alloc); strata with zero variance get weight 0 (a constant
    stratum needs 1 probe, which floor already grants via frac 0 —
    callers typically max(1, n_alloc)).
    """
    gcols = list(stratum_cols)
    v = F.round(
        F.col(value_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    base = df.filter(F.col(value_col).isNotNull()).select(
        *gcols, v.alias("__v")
    )
    # squares of cent-quantized values overflow int64 above ~10^5 rows
    # per stratum: accumulate in DECIMAL(38,0) (DuckDB HUGEINT twin)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = base.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("__v").cast("long").alias("__s"),
        F.sum(dec(F.col("__v")) * dec(F.col("__v"))).alias("__ss"),
    )
    n = F.col("n_rows").cast("double")
    var = F.when(
        F.col("n_rows") > 1,
        (
            F.col("__ss").cast("double")
            - F.col("__s").cast("double")
            * (F.col("__s").cast("double") / n)
        )
        / (n - F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    sd = F.sqrt(F.greatest(F.lit(0.0), var))
    scale = float(10 ** quantize)
    weighted = agg.select(
        *gcols,
        "n_rows",
        (sd / F.lit(scale)).alias("__sd"),
        (n * sd).alias("__w"),
    )
    ordw = Window.orderBy(*gcols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = weighted.select(
        *gcols,
        "n_rows",
        "__sd",
        "__w",
        F.sum("__w").over(ordw).alias("__cw"),
        F.row_number().over(Window.orderBy(*gcols)).alias("__rn"),
        F.count("*")
        .over(
            Window.orderBy(*gcols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__k"),
    )
    wtot = F.broadcast(
        cum.filter(F.col("__rn") == F.col("__k")).select(
            F.col("__cw").alias("__wtot")
        )
    )
    stepped = cum.crossJoin(wtot)
    frac = F.when(
        F.col("__wtot") > 0, F.col("__w") / F.col("__wtot")
    ).otherwise(F.lit(0.0))
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return stepped.select(
        *gcols,
        "n_rows",
        q6(F.col("__sd")).alias("sd_q6"),
        q6(frac).alias("alloc_frac_q6"),
        F.floor(F.lit(float(total_n)) * frac).cast("long").alias(
            "n_alloc"
        ),
    )


def stratified_estimate(
    sample_df: DataFrame,
    pop_counts: DataFrame,
    stratum_cols: tuple,
    value_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Design-based stratified estimate of a population mean from an
    audit SAMPLE: est = sum_h (N_h/N) ybar_h with the
    finite-population-corrected SE — the read-out side of a
    [[neyman_allocation]]-planned [[hash_sample]] audit: "the
    corpus-wide mean quality is X +- SE, measured on 1% of rows".
    ``pop_counts`` is (stratum..., n_pop) — the full-table stratum
    counts, known exactly because WE drew the sample.

    Per-stratum sample moments are BIGINT aggregates; the two
    cross-stratum float sums (the weighted means and the variance
    terms (N_h/N)^2 (1 - n_h/N_h) s_h^2/n_h) fold in fixed stratum
    order (stepped window over the strata table). Strata sampled with
    n_h < 2 contribute their mean but no variance term (flagged in
    n_thin). Population strata that received ZERO sampled rows cannot
    contribute a mean at all; the estimate renormalizes over the
    sampled strata (n_pop = sampled-strata mass) and the coverage gap
    is REPORTED, not hidden: n_unsampled counts the missing strata
    and n_pop_missing carries their population mass, so a caller can
    reject an audit draw that failed to reach part of the frame.
    Returns one row (n_sample, n_pop, k_strata, n_thin, n_unsampled,
    n_pop_missing, est_q6, se_q6).
    """
    gcols = list(stratum_cols)
    v = F.round(
        F.col(value_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    samp = (
        sample_df.select(*gcols, v.alias("__v"))
        .filter(F.col("__v").isNotNull())
        .groupBy(*gcols)
        .agg(
            F.count("*").cast("long").alias("__n"),
            F.sum("__v").cast("long").alias("__s"),
            F.sum(dec(F.col("__v")) * dec(F.col("__v"))).alias("__ss"),
        )
    )
    all_strata = pop_counts.select(
        *gcols, F.col("n_pop").cast("long").alias("__np")
    ).join(samp, gcols, "left")
    miss = all_strata.filter(F.col("__n").isNull()).agg(
        F.count("*").cast("long").alias("__n_unsampled"),
        F.coalesce(F.sum("__np"), F.lit(0))
        .cast("long")
        .alias("__np_missing"),
    )
    joined = all_strata.filter(F.col("__n").isNotNull())
    tots = joined.agg(
        F.sum("__np").cast("long").alias("__npop"),
        F.sum("__n").cast("long").alias("__nsamp"),
    )
    cells = joined.crossJoin(F.broadcast(tots))
    nh = F.col("__n").cast("double")
    nph = F.col("__np").cast("double")
    npop = F.col("__npop").cast("double")
    mean_h = F.col("__s").cast("double") / nh
    var_h = F.when(
        F.col("__n") > 1,
        (
            F.col("__ss").cast("double")
            - F.col("__s").cast("double") * mean_h
        )
        / (nh - F.lit(1.0)),
    )
    w = nph / npop
    est_term = w * mean_h
    se_term = F.when(
        var_h.isNotNull(),
        w * w * (F.lit(1.0) - nh / nph) * (var_h / nh),
    ).otherwise(F.lit(0.0))
    ordw = Window.orderBy(*gcols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.orderBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = cells.select(
        "__npop",
        "__nsamp",
        F.sum(est_term).over(ordw).alias("__est"),
        F.sum(se_term).over(ordw).alias("__sev"),
        F.sum(
            F.when(F.col("__n") < 2, 1).otherwise(0)
        )
        .over(wfull)
        .cast("long")
        .alias("__thin"),
        F.row_number().over(Window.orderBy(*gcols)).alias("__rn"),
        F.count("*").over(wfull).alias("__k"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__k")).crossJoin(
        F.broadcast(miss)
    )
    scale = float(10 ** quantize)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        F.col("__nsamp").alias("n_sample"),
        F.col("__npop").alias("n_pop"),
        F.col("__k").cast("long").alias("k_strata"),
        F.col("__thin").alias("n_thin"),
        F.col("__n_unsampled").alias("n_unsampled"),
        F.col("__np_missing").alias("n_pop_missing"),
        q6(F.col("__est") / F.lit(scale)).alias("est_q6"),
        q6(F.sqrt(F.col("__sev")) / F.lit(scale)).alias("se_q6"),
    )


def mixture_divergence(
    df: DataFrame,
    group_col: str,
    target: dict,
) -> DataFrame:
    """How far is the corpus's group mixture from the DESIGNED mix?
    KL(p||q), total variation and the chi-square-per-row divergence
    between the observed group shares and the target weights — the
    continuous companion to [[mix_weights]]/[[materialize_mix]]: run
    it after a materialization (or on every incremental delivery) to
    catch a drifting pipeline before the training mix skews.

    ``target`` is group -> integer weight (normalized internally).
    Groups in the data but NOT in the target are a contract breach:
    counted in ``n_unmatched`` and excluded from the divergences
    (their q is undefined); target groups with zero rows contribute
    their full TV/chi2 mass and the KL limit 0. Counts/weights are
    exact rationals; the three sums fold over the k-row group table
    in fixed group order. Returns one row
    (n, k_groups, n_unmatched, kl_q6, tv_q6, chi2n_q6).
    """
    spark = df.sparkSession
    t_rows = sorted((str(g), int(w)) for g, w in target.items())
    wtot = float(sum(w for _, w in t_rows))
    tdf = spark.createDataFrame(t_rows, "grp string, w long")
    obs = (
        df.select(F.col(group_col).cast("string").alias("grp"))
        .filter(F.col("grp").isNotNull())
        .groupBy("grp")
        .agg(F.count("*").cast("long").alias("__n"))
    )
    joined = obs.join(F.broadcast(tdf), "grp", "full_outer").select(
        "grp",
        F.coalesce(F.col("__n"), F.lit(0)).alias("__n"),
        "w",
    )
    tot = joined.agg(
        F.sum(F.when(F.col("w").isNotNull(), F.col("__n")))
        .cast("long")
        .alias("__nm"),
        F.coalesce(
            F.sum(F.when(F.col("w").isNull(), F.col("__n"))), F.lit(0)
        )
        .cast("long")
        .alias("__nu"),
    )
    cells = joined.filter(F.col("w").isNotNull()).crossJoin(
        F.broadcast(tot)
    )
    p = F.col("__n").cast("double") / F.col("__nm").cast("double")
    q = F.col("w").cast("double") / F.lit(wtot)
    kl_term = F.when(
        F.col("__n") > 0, p * F.log(p / q)
    ).otherwise(F.lit(0.0))
    tv_term = F.abs(p - q) / F.lit(2.0)
    chi_term = (p - q) * (p - q) / q
    ordw = Window.orderBy("grp").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.orderBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = cells.select(
        "__nm",
        "__nu",
        F.sum(kl_term).over(ordw).alias("__kl"),
        F.sum(tv_term).over(ordw).alias("__tv"),
        F.sum(chi_term).over(ordw).alias("__c2"),
        F.row_number().over(Window.orderBy("grp")).alias("__rn"),
        F.count("*").over(wfull).alias("__k"),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return stepped.filter(F.col("__rn") == F.col("__k")).select(
        F.col("__nm").alias("n"),
        F.col("__k").cast("long").alias("k_groups"),
        F.col("__nu").alias("n_unmatched"),
        q6(F.col("__kl")).alias("kl_q6"),
        q6(F.col("__tv")).alias("tv_q6"),
        q6(F.col("__c2")).alias("chi2n_q6"),
    )


def pack_efficiency(
    docs: DataFrame,
    key_col: str = "source",
    order_col: str = "doc_id",
    token_col: str = "n_tok",
    target_tokens: int = 2000,
) -> DataFrame:
    """Packing-efficiency report over [[sequence_pack]]'s assignment:
    per key, how full are the training sequences the offset-chunking
    produced? fill = total_tokens / (n_seqs * target); overflow
    sequences (> target, a doc straddled the boundary) and underfull
    ones (< target, typically each key's tail) are counted — the
    numbers that justify (or kill) a target_tokens choice before a
    training run burns padding.

    Same single key-shuffle as sequence_pack plus a (key, seq)
    rollup; integer sums, one float fill expression. Returns
    (key, n_docs, n_seqs, total_tokens, fill_q6, n_over, n_under).
    """
    packed = sequence_pack(
        docs, key_col, order_col, token_col, target_tokens
    )
    per_seq = packed.groupBy(key_col, "seq_idx").agg(
        F.count("*").cast("long").alias("__d"),
        F.sum(token_col).cast("long").alias("__t"),
    )
    agg = per_seq.groupBy(key_col).agg(
        F.sum("__d").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_seqs"),
        F.sum("__t").cast("long").alias("total_tokens"),
        F.sum(
            (F.col("__t") > target_tokens).cast("long")
        )
        .cast("long")
        .alias("n_over"),
        F.sum(
            (F.col("__t") < target_tokens).cast("long")
        )
        .cast("long")
        .alias("n_under"),
    )
    fill = F.col("total_tokens").cast("double") / (
        F.col("n_seqs").cast("double") * F.lit(float(target_tokens))
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        key_col,
        "n_docs",
        "n_seqs",
        "total_tokens",
        q6(fill).alias("fill_q6"),
        "n_over",
        "n_under",
    )


def diversity_card(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Per-group diversity card over a categorical composition column —
    the mixture-health read-out next to [[mix_weights]] /
    [[mixture_divergence]]: Shannon entropy H (nats) with Pielou
    evenness J = H/ln(k), the UNBIASED Simpson concentration
    sum n_i(n_i-1) / (n(n-1)) with its Gini-Simpson complement, and
    Berger-Parker dominance max n_i / n. One number family answers
    "is this source/domain/language mix collapsing onto a head?" —
    H and J fall, Simpson and Berger-Parker rise — before a drifting
    pipeline trains on a monoculture.

    Exactness: everything reduces to the per-(group, item) count
    table. Simpson's numerator and Berger-Parker are BIGINT-exact;
    Shannon's cross-item float sum folds in FIXED item order (stepped
    window over the count table, the house rule for unordered float
    reductions). Plan: one (group, item) shuffle, one stepped window
    per group, no driver state. Returns (group, n_rows, k_items,
    shannon_q6, evenness_q6, simpson_q6, gini_simpson_q6,
    berger_parker_q6); evenness null when k = 1 (ln k = 0), Simpson
    pair stats null when n < 2.
    """
    cnt = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(item_col).cast("string").alias("__i"),
        )
        .filter(F.col("__i").isNotNull())
        .groupBy("grp", "__i")
        .agg(F.count("*").cast("long").alias("__c"))
    )
    ordw = (
        Window.partitionBy("grp")
        .orderBy("__i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wfull = Window.partitionBy("grp")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # layer 1: full-partition totals next to each cell (no nested
    # windows — the ordered Shannon fold needs n as a plain column)
    wide = cnt.select(
        "grp",
        "__i",
        "__c",
        F.sum("__c").over(wfull).cast("long").alias("__n"),
        F.sum(dec(F.col("__c")) * dec(F.col("__c") - 1))
        .over(wfull)
        .cast("decimal(38,0)")
        .alias("__spair"),
        F.max("__c").over(wfull).cast("long").alias("__cmax"),
        F.count("*").over(wfull).cast("long").alias("__k"),
    )
    h_term = (
        F.col("__c").cast("double") / F.col("__n").cast("double")
    ) * F.log(
        F.col("__n").cast("double") / F.col("__c").cast("double")
    )
    stepped = wide.select(
        "grp",
        "__n",
        "__spair",
        "__cmax",
        "__k",
        F.sum(h_term).over(ordw).alias("__h"),
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("__i"))
        .alias("__rn"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__k"))
    n = F.col("__n").cast("double")
    k = F.col("__k").cast("double")
    simpson = F.col("__spair").cast("double") / (n * (n - F.lit(1.0)))
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        F.col("grp").alias(group_col),
        F.col("__n").alias("n_rows"),
        F.col("__k").alias("k_items"),
        q6(F.col("__h")).alias("shannon_q6"),
        F.when(
            F.col("__k") > 1, q6(F.col("__h") / F.log(k))
        ).alias("evenness_q6"),
        F.when(F.col("__n") > 1, q6(simpson)).alias("simpson_q6"),
        F.when(
            F.col("__n") > 1, q6(F.lit(1.0) - simpson)
        ).alias("gini_simpson_q6"),
        q6(F.col("__cmax").cast("double") / n).alias(
            "berger_parker_q6"
        ),
    )
