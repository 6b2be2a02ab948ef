"""Tier-2 gate: per-turn text equality under stable turn ordering.

Runs the full Spark extraction plan on synthetic transcripts and joins the
result against the golden ``expected_turns`` oracle by (conv_id, turn_idx),
asserting 100% equality of text, spans, status and error_class — the
north-rule correctness contract (per-turn equality vs the reference
extractor fixtures).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from png_from_pdf_extracter_spark.datagen import GenConfig, gen_pandas
from png_from_pdf_extracter_spark.operators.ordering import (
    conversation_rollup,
    explode_units,
    reassemble_turns,
)
from png_from_pdf_extracter_spark.plans import JobParams, extract_turns
from png_from_pdf_extracter_spark.sources.transcripts import (
    TRANSCRIPTS_SCHEMA,
    partition_bucket_py,
    with_partition_id,
)

GCFG = GenConfig(n_convs=60)
PARAMS = JobParams(n_buckets=16, extractor=GCFG.extractor, num_partitions=8)


@pytest.fixture(scope="module")
def data(spark):
    tdf, edf = gen_pandas(GCFG)
    transcripts = spark.createDataFrame(tdf, schema=TRANSCRIPTS_SCHEMA)
    return transcripts, edf


@pytest.fixture(scope="module")
def extracted_pdf(spark, data):
    transcripts, _ = data
    return (
        extract_turns(spark, transcripts, PARAMS)
        .select("conv_id", "turn_idx", "status", "error_class",
                "extracted_text", "units")
        .toPandas()
    )


def test_per_turn_text_equality(data, extracted_pdf):
    _, edf = data
    got = extracted_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = edf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp), "row count mismatch vs oracle"
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()
    # 100% per-turn equality, byte-for-byte
    mism = (got["extracted_text"].values != exp["extracted_text"].values).sum()
    assert mism == 0, f"{mism} turns differ from oracle"
    assert got["status"].tolist() == exp["status"].tolist()
    assert got["error_class"].tolist() == exp["error_class"].tolist()


def test_span_equality(data, extracted_pdf):
    _, edf = data
    got = extracted_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    exp = edf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for i in range(len(got)):
        g_spans = [
            (int(s["start"]), int(s["end"]), s["kind"])
            for u in got["units"].iat[i]
            for s in u["spans"]
        ]
        e_spans = [(s["start"], s["end"], s["kind"]) for s in exp["spans"].iat[i]]
        assert g_spans == e_spans, f"span mismatch at row {i}"


def test_whitelist_drops_system_rows(spark, data, extracted_pdf):
    transcripts, _ = data
    n_system = transcripts.filter(F.col("role") == "system").count()
    assert n_system > 0
    total = transcripts.count()
    assert len(extracted_pdf) == total - n_system


def test_partition_bucket_python_spark_lockstep(spark, data):
    transcripts, _ = data
    rows = (
        with_partition_id(transcripts.select("conv_id").distinct(), 16)
        .collect()
    )
    for r in rows:
        assert r.partition_id == partition_bucket_py(r.conv_id, 16), r.conv_id


def test_explode_reassemble_roundtrip(spark, data):
    """Fan-out to per-unit rows and window-reassemble; must reproduce the
    kernel's joined text byte-for-byte (the reference's pages->single-reply
    reassembly contract)."""
    transcripts, _ = data
    extracted = extract_turns(spark, transcripts, PARAMS)
    per_turn = extracted.filter(F.size("units") > 0).select(
        "conv_id", "turn_idx", "extracted_text"
    )
    units = explode_units(extracted)
    reassembled = reassemble_turns(units)
    diff = (
        reassembled.alias("r")
        .join(per_turn.alias("p"), ["conv_id", "turn_idx"])
        .filter(F.col("r.extracted_text") != F.col("p.extracted_text"))
        .count()
    )
    assert diff == 0
    assert reassembled.count() == per_turn.count()


def test_conversation_rollup(spark, data):
    transcripts, edf = data
    extracted = extract_turns(spark, transcripts, PARAMS)
    rolled = conversation_rollup(
        extracted.select("conv_id", "turn_idx", "extracted_text")
    ).toPandas()
    # one row per conversation that had any whitelisted turn
    exp_convs = edf["conv_id"].nunique()
    assert len(rolled) == exp_convs
    # spot-check one conversation's ordered join
    conv = edf["conv_id"].iloc[0]
    exp_rows = edf[edf.conv_id == conv].sort_values("turn_idx")
    expected_text = "\n\n".join(exp_rows["extracted_text"])
    got = rolled[rolled.conv_id == conv]["conv_text"].iloc[0]
    assert got == expected_text


def test_unicode_payloads_roundtrip_exactly(spark):
    """Multi-byte text (CJK, emoji, RTL, combining marks, entities
    decoding TO non-ASCII) through the full Spark plan must equal the
    kernel run directly in-process — catches Arrow UTF-8 transfer bugs
    and any byte-vs-char span arithmetic drift. ``text_bytes`` counts
    UTF-8 bytes, the unit of the kernel's ``max_bytes`` cap."""
    import datetime as dt

    from png_from_pdf_extracter_spark.extractor import extract_batch_lists

    payloads = [
        "日本語のテキスト です。これは 十分に長い 本文 段落 です ね。",
        "emoji 🎉🎊 mixed with text and ςpecial çhars — em-dash",
        "<html><body><p>café &amp; naïve &#x1F600; text here "
        "with enough length to keep</p><nav>skip</nav></body></html>",
        "مرحبا بالعا"
        "لم hello world mixed rtl ltr text paragraph",
        "áccents and combining̈ marks everywhere in this line",
        "",
    ]
    cfg = PARAMS.extractor
    statuses, errors, texts, units = extract_batch_lists(payloads, cfg)

    rows = [
        ("u1", i, "user", p, "", dt.datetime(2026, 1, 1))
        for i, p in enumerate(payloads)
    ]
    t = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA)
    got = {
        r["turn_idx"]: (r["status"], r["extracted_text"], r["text_bytes"])
        for r in extract_turns(spark, t, PARAMS).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == (statuses[i], texts[i], len(p.encode())), (i, got[i])


def test_output_invariant_across_parallelism(spark):
    """The north rule's cluster-size criterion, correctness half: the
    SAME input through the SAME plan at two parallelism configurations
    (2 partitions / 2 salt buckets vs 16 / 8) must produce byte-identical
    per-turn output — throughput may scale, results may not drift."""
    from png_from_pdf_extracter_spark.sources import generate_transcripts

    t = generate_transcripts(spark, GenConfig(n_convs=50))
    cols = ["conv_id", "turn_idx", "status", "error_class", "extracted_text"]

    def run(np_, sb):
        p = JobParams(
            n_buckets=16, extractor=GCFG.extractor,
            num_partitions=np_, salt_buckets=sb,
        )
        rows = extract_turns(spark, t, p).select(*cols).collect()
        return sorted(tuple(r) for r in rows)

    narrow = run(2, 2)
    wide = run(16, 8)
    assert len(narrow) > 0
    assert narrow == wide
