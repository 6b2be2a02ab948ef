"""10x scale probe for the pair-generating operators (r3 verdict #5).

The sf0.01 -> sf0.1 oracle sweep catches cross-engine value drift; the
class of bug only a SCALE step can catch is superlinear candidate
growth — an operator whose pair table grows faster than ~O(n log n)
works at the gate scale and melts at 100 TB. The driver testdata tops
out at sf0.1, so this probe synthesizes its own corpus at 1x
(sf0.1-sized: 5,000 docs / 20,000 parts) and 10x ("sf1": 50,000 /
200,000) and runs the five heaviest pair producers at both, reporting
count and wall-time growth exponents (log10 of the 10x/1x ratio: O(n)
=> 1.0, O(n^2) => 2.0).

Corpus design — deliberately NOT a clone of the driver's documents
table: that corpus draws from a 31-word vocabulary, so at sf0.1 every
term's document frequency already exceeds every DF ceiling and the
term-keyed operators degenerate to zero candidates — a vacuous probe.
Instead documents use a 2,000-word Zipf(1.1) vocabulary (head terms
bite the max_df guard at BOTH scales, tail terms stay discriminative)
with a fixed 3% perturbed-near-dup rate and 0.2% exact-dup rate, so
cluster SIZE stays constant and cluster COUNT grows linearly — the
shape web dedup actually sees. Parts reuse the driver's real 64
distinct "adjective noun" names (read from sf0.1), because that
low-cardinality domain is precisely the known quadratic hot-block case
the probe must expose. Everything is seeded per-row — two runs produce
identical corpora.

Usage:
    python scripts/scale_probe.py [--out /path/probe.json]
Prints one JSON line {"scale_probe": {...}} and (with --out) writes it
to a file. Runtime ~6-10 min at local[8].
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

BASE_DOCS = 5_000  # sf0.1 documents rows
BASE_PARTS = 20_000  # sf0.1 part rows
VOCAB_N = 2_000
ZIPF_S = 1.1
NEAR_DUP_RATE = 0.03
EXACT_DUP_RATE = 0.002
LANGS = ("en", "de", "fr", "es")


def _word(i: int) -> str:
    """Pronounceable deterministic word: base-(14*5) syllables. Digit
    words like 'w0042' would make every CHARACTER trigram in the corpus
    near-identical and inflate minhash/simhash chance collisions — an
    artifact of the generator, not the operator (first probe run
    measured exponent 2.0 on minhash from exactly this)."""
    cons, vow = "bcdfglmnprstvz", "aeiou"
    syls = [c + v for c in cons for v in vow]
    out, x = [], i + 70  # skip the shortest words
    while x:
        out.append(syls[x % len(syls)])
        x //= len(syls)
    return "".join(out)


def _vocab_cum() -> tuple[list[str], list[float]]:
    vocab = [_word(i) for i in range(1, VOCAB_N + 1)]
    assert len(set(vocab)) == VOCAB_N
    w, cum = 0.0, []
    for i in range(1, VOCAB_N + 1):
        w += 1.0 / (i**ZIPF_S)
        cum.append(w)
    return vocab, cum


def gen_documents(n: int, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    vocab, cum = _vocab_cum()
    ids, texts, langs, sources, n_chars = [], [], [], [], []
    for i in range(n):
        rng = random.Random(f"probe-doc-{i}")
        r = rng.random()
        if i > 10 and r < EXACT_DUP_RATE:
            text = texts[rng.randrange(i)]
        elif i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_RATE:
            words = texts[rng.randrange(i)].split(" ")
            for j in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = rng.choices(
                    vocab, cum_weights=cum
                )[0]
            text = " ".join(words)
        else:
            length = rng.randint(10, 100)
            text = " ".join(rng.choices(vocab, cum_weights=cum, k=length))
        ids.append(i)
        texts.append(text)
        langs.append(rng.choice(LANGS))
        sources.append(f"src{rng.randint(1, 20)}")
        n_chars.append(len(text))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": langs,
                "source": sources,
                "n_chars": pa.array(n_chars, pa.int32()),
            }
        ),
        path,
    )


def gen_parts(n: int, names: list[str], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    keys, pnames = [], []
    for i in range(n):
        rng = random.Random(f"probe-part-{i}")
        keys.append(i)
        pnames.append(names[rng.randrange(len(names))])
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(keys, pa.int64()),
                "p_name": pnames,
            }
        ),
        path,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    import duckdb

    names = [
        r[0]
        for r in duckdb.sql(
            "SELECT DISTINCT p_name FROM"
            " read_parquet('/root/testdata/sf0.1/part.parquet')"
            " ORDER BY p_name"
        ).fetchall()
    ]

    base = tempfile.mkdtemp(prefix="scale_probe_")
    dirs = {}
    try:
        for scale, mult in (("x1", 1), ("x10", 10)):
            d = os.path.join(base, scale)
            os.makedirs(d)
            t0 = time.time()
            gen_documents(BASE_DOCS * mult, f"{d}/documents.parquet")
            gen_parts(BASE_PARTS * mult, names, f"{d}/part.parquet")
            print(
                f"# generated {scale}: {BASE_DOCS * mult} docs /"
                f" {BASE_PARTS * mult} parts [{time.time() - t0:.1f}s]",
                file=sys.stderr,
            )
            dirs[scale] = d

        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("scale_probe")
            .config("spark.sql.shuffle.partitions", "16")
            .config("spark.driver.memory", "12g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")

        import __spark_entry__ as em
        from png_from_pdf_extracter_spark.functions import dedup

        qs = em.queries()

        def run(label, fn):
            out = {}
            for scale in ("x1", "x10"):
                t0 = time.time()
                pairs = fn(dirs[scale])
                out[scale] = {
                    "pairs": int(pairs),
                    "wall_sec": round(time.time() - t0, 2),
                }
            c1, c10 = out["x1"]["pairs"], out["x10"]["pairs"]
            w1, w10 = out["x1"]["wall_sec"], out["x10"]["wall_sec"]
            out["pair_exponent"] = (
                round(math.log10(max(c10, 1) / max(c1, 1)), 3)
            )
            out["wall_exponent"] = round(
                math.log10(max(w10, 0.01) / max(w1, 0.01)), 3
            )
            print(f"# {label}: {out}", file=sys.stderr)
            return out

        results = {}
        results["q_tfidf_cosine"] = run(
            "q_tfidf_cosine", lambda d: qs["q_tfidf_cosine"](spark, d).count()
        )
        results["q_jaccard_prefix"] = run(
            "q_jaccard_prefix",
            lambda d: qs["q_jaccard_prefix"](spark, d).count(),
        )
        results["q_simhash_neardup"] = run(
            "q_simhash_neardup",
            lambda d: qs["q_simhash_neardup"](spark, d).count(),
        )
        # the dedup-apply query's OUTPUT is the survivor corpus (linear
        # by construction) — the candidate table is the pair stage, so
        # the probe measures that directly with the query's parameters
        results["minhash_lsh_pairs"] = run(
            "minhash_lsh_pairs",
            lambda d: dedup.minhash_lsh_pairs(
                spark.read.parquet(f"{d}/documents.parquet"),
                "doc_id",
                "text",
                n=3,
                num_hashes=8,
                rows_per_band=2,
            ).count(),
        )
        # mitigation measurement: the SAME corpus with doubled band
        # specificity (2 bands of 4 minhashes instead of 4 of 2) — band
        # collision probability goes J^2 -> J^4, so the closed-vocab
        # background Jaccard stops dominating the candidate volume
        results["minhash_lsh_pairs_b4"] = run(
            "minhash_lsh_pairs_b4",
            lambda d: dedup.minhash_lsh_pairs(
                spark.read.parquet(f"{d}/documents.parquet"),
                "doc_id",
                "text",
                n=3,
                num_hashes=8,
                rows_per_band=4,
            ).count(),
        )
        results["q_edit_distance"] = run(
            "q_edit_distance",
            lambda d: qs["q_edit_distance"](spark, d)
            .agg(F.sum("n_pairs").alias("p"))
            .collect()[0]["p"]
            or 0,
        )
        # round-4 additions: the two new pair producers.
        # containment shares jaccard's verified-threshold shape -> the
        # linear target; jaro linkage scores the DISTINCT name
        # vocabulary, which this domain holds CONSTANT as rows grow 10x
        # -> pair exponent ~0 (the distinct-first design point: linkage
        # cost follows the vocabulary, not the row count)
        results["q_ngram_containment"] = run(
            "q_ngram_containment",
            lambda d: qs["q_ngram_containment"](spark, d).count(),
        )
        results["q_jaro_linkage"] = run(
            "q_jaro_linkage",
            lambda d: qs["q_jaro_linkage"](spark, d).count(),
        )
        # the guards the ungated measurements motivate, measured at 10x
        # only (the point is the 10x cost, not a second exponent):
        # max_block caps edit-distance's quadratic hot blocks; top_k
        # bounds the tfidf OUTPUT to N*k regardless of corpus shape
        t0 = time.time()
        gated = dedup.edit_distance_pairs(
            spark.read.parquet(f"{dirs['x10']}/part.parquet"),
            "p_partkey",
            "p_name",
            max_dist=2,
            block_len=10,
            max_block=500,
        ).count()
        results["edit_distance_gated_x10"] = {
            "max_block": 500,
            "pairs": int(gated),
            "wall_sec": round(time.time() - t0, 2),
        }
        t0 = time.time()
        tk = dedup.tfidf_cosine_pairs(
            spark.read.parquet(f"{dirs['x10']}/documents.parquet"),
            min_sim_ppm=400_000,
            top_k=5,
        ).count()
        results["tfidf_topk_gated_x10"] = {
            "top_k": 5,
            "pairs": int(tk),
            "wall_sec": round(time.time() - t0, 2),
        }

        # ---- round-5 probe targets (r4 verdict #5): pair producers
        # round 4 added or left unprobed.
        from png_from_pdf_extracter_spark.functions import graph, linkage

        # jw_blocked_linkage over a GROWING name domain (first 4 words
        # of each doc — part names' constant 64-vocab would probe
        # nothing). The cost driver is the block-size distribution of
        # the DISTINCT-name table: sum(b^2) is the uncapped self-join
        # work, max block the hot key the max_block=500 guard drops.
        def _names(d):
            return spark.read.parquet(f"{d}/documents.parquet").select(
                F.array_join(
                    F.slice(F.split("text", " "), 1, 4), " "
                ).alias("name")
            )

        jw = {}
        for scale in ("x1", "x10"):
            t0 = time.time()
            n_pairs = linkage.jw_blocked_linkage(
                _names(dirs[scale]), "name"
            ).count()
            wall = round(time.time() - t0, 2)
            st = (
                _names(dirs[scale])
                .select(F.lower(F.trim(F.col("name"))).alias("nm"))
                .filter(F.length("nm") > 0)
                .distinct()
                .withColumn("bk", F.substring("nm", 1, 2))
                .groupBy("bk")
                .agg(F.count("*").alias("bn"))
                .agg(
                    F.count("*").alias("n_blocks"),
                    F.max("bn").alias("max_block"),
                    F.sum(F.col("bn") * F.col("bn")).alias("join_work"),
                )
                .collect()[0]
            )
            jw[scale] = {
                "pairs": int(n_pairs),
                "wall_sec": wall,
                "n_blocks": int(st["n_blocks"]),
                "max_block_size": int(st["max_block"]),
                "uncapped_join_work": int(st["join_work"]),
            }
        jw["pair_exponent"] = round(
            math.log10(
                max(jw["x10"]["pairs"], 1) / max(jw["x1"]["pairs"], 1)
            ),
            3,
        )
        jw["work_exponent"] = round(
            math.log10(
                max(jw["x10"]["uncapped_join_work"], 1)
                / max(jw["x1"]["uncapped_join_work"], 1)
            ),
            3,
        )
        print(f"# jw_blocked_linkage: {jw}", file=sys.stderr)
        results["jw_blocked_linkage"] = jw

        # link_prediction_scores on a synthetic preferential-attachment
        # graph: 3 deterministic arcs per doc, target density ∝ j^(-2/3)
        # (dst = floor(src * u^3), u md5-uniform), so hub degrees grow
        # ~N^(2/3) and UNCAPPED wedge counts ~N^(4/3) — the superlinear
        # regime max_hub_degree exists to cut. Measured at the default
        # cap (10_000: nothing dropped at these sizes) and at 200.
        def _edges(d):
            e = (
                spark.read.parquet(f"{d}/documents.parquet")
                .select("doc_id")
                .select(
                    "doc_id",
                    F.explode(
                        F.array(F.lit(0), F.lit(1), F.lit(2))
                    ).alias("t"),
                )
            )
            u = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws("-", F.col("doc_id"), F.col("t"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("double")
                + 1.0
            ) / 4294967296.0
            return e.select(
                F.col("doc_id").alias("src"),
                F.floor(F.col("doc_id").cast("double") * F.pow(u, 3))
                .cast("long")
                .alias("dst"),
            ).filter(F.col("dst") < F.col("src"))

        for label, cap in (
            ("link_prediction_uncapped", 10_000),
            ("link_prediction_hub200", 200),
        ):
            results[label] = run(
                label,
                lambda d, cap=cap: graph.link_prediction_scores(
                    _edges(d), max_hub_degree=cap
                ).count(),
            )
            results[label]["max_hub_degree"] = cap

        block = {
            "scale_probe": {
                "base": {"docs": BASE_DOCS, "parts": BASE_PARTS},
                "mult": 10,
                "results": results,
            }
        }
        line = json.dumps(block)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
        spark.stop()
        return 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
