"""Scalar text functions — all built-in Column expression chains (JVM-side,
whole-stage codegen; UDFs are the slow path and none are needed here).

Each function has an exactly-matching ANSI-SQL twin in the ``oracle=`` of
the driver queries that use it (``registry/text.py`` and its neighbours),
so DuckDB can verify it value-for-value; the parity test fails when the
two drift.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- sanitize

def sanitize_name(col, max_length: int = 50) -> Column:
    """Filename-sanitize chain (semantics of the reference's
    ``sanitize_filename``, /root/reference/src/utils/file_utils.py:6-47):
    strip extension -> non [A-Za-z0-9_-] to '_' -> collapse '_'+ -> trim '_'
    -> truncate -> trim '_' -> default 'unnamed'."""
    c = F.col(col) if isinstance(col, str) else col
    x = F.regexp_replace(c, r"\.[^.]*$", "")
    x = F.regexp_replace(x, "[^a-zA-Z0-9_-]", "_")
    x = F.regexp_replace(x, "_+", "_")
    x = _trim_us(x)
    x = F.substring(x, 1, max_length)
    x = _trim_us(x)
    return F.coalesce(F.nullif(x, F.lit("")), F.lit("unnamed"))


def _trim_us(x: Column) -> Column:
    return F.regexp_replace(x, "^_+|_+$", "")


# ---------------------------------------------------------------- tokens

# BPE-ish word/number/punct tokenizer — safe common subset of Java regex and
# RE2 so Spark and DuckDB agree.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_PATTERN), 0)).cast(
        "long"
    )


def tokens(c: Column) -> Column:
    """Whitespace tokens with empties dropped: the one word-tokenizer
    contract of the operators and their DuckDB oracles
    (``list_filter(regexp_split_to_array(trim(x), '\\s+'),
    t -> length(t) > 0)``). Pass ``F.lower(c)`` for lowercase tokens."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: F.length(t) > 0)


def words(col) -> Column:
    """Whitespace word split, trimmed first (both engines split a leading
    space differently); empty words stay — ``tokens`` drops them."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


# ---------------------------------------------------------------- quality

_STOPWORDS_EN = (
    "the|and|of|to|is|in|that|it|for|on|as|with|was|at|by|an|be|this|are|or"
)


def stopword_hits(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(
        F.regexp_extract_all(
            F.lower(c), F.lit(rf"\b(?:{_STOPWORDS_EN})\b"), 0
        )
    ).cast("long")


def quality_score(col) -> Column:
    """Heuristic document quality in [0,1]: token volume, alphabetic ratio,
    stopword ratio (fluent prose has stopwords), whitespace sanity. The
    formula is arbitrary but fixed — the contract is determinism + oracle
    parity, mirroring the reference's validation-predicate style checks."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_tok = token_count(c).cast("double")
    alpha = F.length(F.regexp_replace(c, "[^A-Za-z]", "")).cast("double")
    stop = stopword_hits(c).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop / n_tok).otherwise(F.lit(0.0))
    vol = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    # floor-quantized to 4dp, NOT round(): the weighted sum is the same
    # IEEE double on every engine, but round() implementations disagree
    # exactly when it lands on a .00005 boundary (Spark rounds the binary
    # value, DuckDB the shortest decimal repr — observed at sf0.1: 0.4337
    # vs 0.4338 on 3 of 3832 docs). floor of a bit-identical double is
    # deterministic everywhere.
    raw = (
        F.lit(0.4) * vol
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
    )
    return F.floor(raw * F.lit(10000.0)) / F.lit(10000.0)


# ---------------------------------------------------------------- lang id

LANG_STOPWORDS = {
    "en": "the|and|of|to|is|in|that|it|for|on",
    "de": "der|die|das|und|ist|nicht|ein|zu|mit|von",
    "fr": "le|la|les|et|est|une|que|des|pour|dans",
    "es": "el|los|las|es|una|que|por|para|con|del",
}
LANG_ORDER = ("en", "de", "fr", "es")  # deterministic tie-break priority


def _lang_hits(c: Column, lang: str) -> Column:
    return F.size(
        F.regexp_extract_all(
            F.lower(c), F.lit(rf"\b(?:{LANG_STOPWORDS[lang]})\b"), 0
        )
    ).cast("long")


def lang_id(col) -> Column:
    """N-gram/stopword-hit language heuristic with deterministic tie-break
    (priority order en > de > fr > es, 'und' = unknown when zero hits)."""
    c = F.col(col) if isinstance(col, str) else col
    hits = {l: _lang_hits(c, l) for l in LANG_ORDER}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for l in reversed(LANG_ORDER):
        expr = F.when((best > 0) & (hits[l] == best), F.lit(l)).otherwise(expr)
    return expr


# ---------------------------------------------------------------- fingerprint

def fingerprint(col) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercased text —
    the normalize-exactly-once determinism contract from the extractor,
    applied as a standalone content key for dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


ROLLING_P = 1_000_000_007  # same prime family as dedup.MINHASH_P
ROLLING_BASE = 31


def rolling_fingerprint(col) -> Column:
    """Polynomial rolling-hash document fingerprint (Rabin-Karp family):
    fold ``acc = (acc * 31 + code) mod p`` over the characters of the
    whitespace-normalized lowercased text. All-integer arithmetic, so a
    DuckDB oracle reproduces it bit-exactly — and unlike ``fingerprint``'s
    md5 this is the INCREMENTAL form: a sliding window updates in O(1)
    (subtract the outgoing char's ``code * 31^(w-1)``, shift, add), which
    is what window/passage-dedup at 100 TB wants when windows overlap.
    Document-level production dedup should keep using md5 (one JVM-native
    call vs an O(n) character fold); this exists for the windowed uses
    and as the engine-portable integer twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))
    chars = F.split(norm, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * ROLLING_BASE + F.ascii(ch)) % ROLLING_P,
    )


# ---------------------------------------------------------------- misc refs

def cc_split(col) -> Column:
    """Semicolon list split + trim + drop empties (ref config.py:142-143)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.transform(F.split(c, ";"), lambda x: F.trim(x)),
        lambda x: F.length(x) > 0,
    )


def error_classify(col) -> Column:
    """Marker-based error classification (the stderr-pattern table of the
    reference, pdf_converter.py:100-122) as a pure CASE chain."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.rlike("(?i)password|encrypted|/Encrypt"), F.lit("protected"))
        .when(c.rlike("(?i)corrupt|invalid"), F.lit("corrupted"))
        .when(c.rlike("(?i)timeout|timed out"), F.lit("timeout"))
        .otherwise(F.lit("ok"))
    )


# ---------------------------------------------------------- readability

def sentence_count(col) -> Column:
    """Sentence count as runs of terminal punctuation ([.!?]+ counts as
    one boundary), floored at 1 so ratio formulas never divide by zero.
    A heuristic, like every large-scale readability pass — the contract
    is determinism, not linguistic truth."""
    c = F.col(col) if isinstance(col, str) else col
    return F.greatest(
        F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("long")


def syllable_count(col) -> Column:
    """Approximate syllables = vowel-group runs ([aeiouy]+) over the
    lowercased text — the standard cheap estimator used by readability
    gates at corpus scale (exact syllabification needs a dictionary)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")).cast("long")


def flesch_reading_ease(col) -> Column:
    """Flesch reading-ease score
    ``206.835 - 1.015*(words/sentences) - 84.6*(syllables/words)``,
    floor-quantized to 4dp (same rationale as quality_score: the raw
    arithmetic is the same IEEE double on every engine; round() flips on
    ties, floor never does). NULL for word-free documents — undefined,
    not 0. Map-only, whole-stage codegen: the 100-TB-safe quality gate."""
    c = F.col(col) if isinstance(col, str) else col
    w = F.size(tokens(c)).cast("double")
    s = sentence_count(c).cast("double")
    y = syllable_count(c).cast("double")
    raw = (
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w)
    )
    return F.when(
        w > 0, F.floor(raw * F.lit(10000.0)) / F.lit(10000.0)
    )


def script_profile(df, text_col: str = "text", id_cols=("doc_id",)):
    """Unicode script profile per document — the multilingual-corpus
    router: character counts per major script block (Latin, Cyrillic,
    Greek, Arabic, Devanagari, CJK, Hangul, digits, whitespace, other)
    and the dominant script, decided by exact counts with a fixed
    precedence on ties. Run it BEFORE n-gram language ID ([[lang_id]]
    assumes a Latin-ish alphabet); a "mixed" dominant flags
    code-switched or mis-encoded documents.

    EXACT cross-engine and map-only: each count is length(text) minus
    length(regexp_replace(text, [range-class], '')) — explicit
    CODEPOINT RANGES, not named properties (Java regex \\p{IsCyrillic}
    and RE2 \\p{Cyrillic} disagree on edge blocks; [\\u0400-\\u04FF]
    means the same thing in both engines). Zero shuffle, whole-stage
    codegen; BIGINT counts.
    """
    from pyspark.sql import functions as F

    t = F.col(text_col)
    ranges = {
        "n_latin": "[A-Za-zÀ-ɏ]",
        "n_cyrillic": "[Ѐ-ӿ]",
        "n_greek": "[Ͱ-Ͽ]",
        "n_arabic": "[؀-ۿ]",
        "n_devanagari": "[ऀ-ॿ]",
        "n_cjk": "[一-鿿぀-ヿ]",
        "n_hangul": "[가-힯ᄀ-ᇿ]",
        "n_digit": "[0-9]",
        "n_space": "[ \\t\\r\\n]",
    }

    def cnt(pat):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pat, ""))
        ).cast("long")

    counts = {k: cnt(p) for k, p in ranges.items()}
    total = F.length(t).cast("long")
    known = None
    for c in counts.values():
        known = c if known is None else known + c
    script_cols = [
        (counts["n_latin"], "latin"),
        (counts["n_cyrillic"], "cyrillic"),
        (counts["n_greek"], "greek"),
        (counts["n_arabic"], "arabic"),
        (counts["n_devanagari"], "devanagari"),
        (counts["n_cjk"], "cjk"),
        (counts["n_hangul"], "hangul"),
    ]
    best = F.greatest(*[c for c, _ in script_cols])
    dom = F.lit("none")
    # fixed precedence on ties: later WHEN wins only if strictly greater,
    # so the listed order (latin first) is the deterministic tiebreak
    for c, name in reversed(script_cols):
        dom = F.when((c == best) & (best > 0), F.lit(name)).otherwise(dom)
    return df.select(
        *id_cols,
        total.alias("n_chars_total"),
        *[counts[k].alias(k) for k in ranges],
        (total - known).alias("n_other"),
        dom.alias("dominant"),
    )


# ---------------------------------------------------------------- mojibake

# cp1252 images of the UTF-8 continuation bytes 0x80-0xBF: what a UTF-8
# multi-byte sequence's trailing byte becomes after a wrong
# latin-1/cp1252 decode. Built from the codec table itself (the 5
# cp1252-unmapped bytes drop out), so the class is exact and the source
# stays free of invisible literals.
_MOJI_CONT = "".join(
    bytes([b]).decode("cp1252", errors="ignore") for b in range(0x80, 0xC0)
)
# cp1252 images of the UTF-8 LEAD bytes 0xC2-0xC3 (Latin-1 pages) and
# 0xE2 (general punctuation page: curly quotes, dashes, ellipsis) — the
# three leads behind the signature 'Ã©' / 'â€™' patterns that dominate
# real-world mojibake.
_MOJI_LEADS = "".join(
    bytes([b]).decode("cp1252") for b in (0xC2, 0xC3, 0xE2)
)
# no regex metachars inside either class (cp1252 images are all
# non-ASCII), so plain bracket concatenation is safe in BOTH Java
# regex and RE2 — the same literal string feeds Spark and the DuckDB
# oracle.
MOJIBAKE_PATTERN = "[" + _MOJI_LEADS + "][" + _MOJI_CONT + "]"
# C1 controls U+0080-U+009F: cannot appear in clean text; the classic
# symptom of a latin-1 decode of cp1252 bytes. \x{..} is valid in both
# Java regex and RE2.
C1_PATTERN = "[\\x{80}-\\x{9f}]"
REPLACEMENT_CHAR = chr(0xFFFD)
# canonical injected-damage fixture: 'é’' UTF-8 bytes wrongly decoded
# as cp1252 -> one 2-byte marker + one 3-byte marker (2 mojibake hits)
MOJI_SUFFIX = " " + "é’".encode("utf-8").decode("cp1252")


def mojibake_marks(col) -> Column:
    """Count of double-encoded-UTF-8 markers: a cp1252-image lead char
    immediately followed by a cp1252-image continuation char — the
    signature produced when UTF-8 bytes are decoded as latin-1/cp1252.
    Pure regexp count, JVM-side, map-only."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(MOJIBAKE_PATTERN), F.lit(0)))


def encoding_health(col) -> list[Column]:
    """Per-document encoding-damage profile: [[mojibake_marks]] count,
    U+FFFD replacement-char count (a decoder ALREADY gave up there), C1
    control chars, and the boolean gate. The curation read: flagged
    docs go to re-decode or quarantine BEFORE tokenization — BPE
    merrily learns mojibake tokens and they poison the vocab forever.

    Returns 4 columns (moji_marks, repl_chars, c1_chars, enc_suspect)
    for a .select; map-only, whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    moji = mojibake_marks(c)
    repl = F.size(
        F.regexp_extract_all(c, F.lit(REPLACEMENT_CHAR), F.lit(0))
    )
    c1 = F.size(F.regexp_extract_all(c, F.lit(C1_PATTERN), F.lit(0)))
    return [
        moji.alias("moji_marks"),
        repl.alias("repl_chars"),
        c1.alias("c1_chars"),
        ((moji > 0) | (repl > 0) | (c1 > 0)).alias("enc_suspect"),
    ]


def lexical_richness(
    df,
    text_col: str = "text",
    group_cols: tuple = ("source",),
):
    """Lexical-richness battery per group — the vocabulary-shape
    numbers a corpus card reports next to [[vocab_growth]]'s Heaps
    curve: Yule's K (repeat-rate, length-robust), Guiraud R and
    Herdan C (type/token ratios that don't collapse with N), Honoré's
    R (hapax-weighted), Sichel's S (dis-legomena share), the lexical
    Simpson index, and the Chao1 estimate of UNSEEN vocabulary
    (bias-corrected form, finite even with zero dis legomena).

    Everything reduces to five BIGINTs per group off the term-count
    table — N, V, V1, V2, S2 = sum f^2 — so each index is one
    deterministic float expression. Plan: two combinable shuffles
    ((group, token) count then group) — the same shape at 100 TB,
    no collects, no windows.
    """
    gcols = list(group_cols)
    toks = df.select(
        *gcols, F.explode(tokens(F.lower(F.col(text_col)))).alias("__t")
    )
    tc = toks.groupBy(*gcols, "__t").agg(
        F.count("*").cast("long").alias("__f")
    )
    agg = tc.groupBy(*gcols).agg(
        F.sum("__f").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("v_types"),
        F.sum(F.when(F.col("__f") == 1, 1).otherwise(0))
        .cast("long")
        .alias("v1"),
        F.sum(F.when(F.col("__f") == 2, 1).otherwise(0))
        .cast("long")
        .alias("v2"),
        F.sum(F.col("__f") * F.col("__f")).cast("long").alias("__s2"),
    )
    n = F.col("n_tokens").cast("double")
    v = F.col("v_types").cast("double")
    v1 = F.col("v1").cast("double")
    v2 = F.col("v2").cast("double")
    s2 = F.col("__s2").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *gcols,
        "n_tokens",
        "v_types",
        "v1",
        "v2",
        q6(F.lit(1e4) * (s2 - n) / (n * n)).alias("yules_k_q6"),
        q6(v / F.sqrt(n)).alias("guiraud_q6"),
        q6(F.log(v) / F.log(n)).alias("herdan_q6"),
        F.when(
            F.col("v1") < F.col("v_types"),
            q6(F.lit(100.0) * F.log(n) / (F.lit(1.0) - v1 / v)),
        ).alias("honore_q6"),
        q6(v2 / v).alias("sichel_q6"),
        q6((s2 - n) / (n * (n - F.lit(1.0)))).alias("simpson_q6"),
        q6(
            v + v1 * (v1 - F.lit(1.0)) / (F.lit(2.0) * (v2 + F.lit(1.0)))
        ).alias("chao1_q6"),
    )
