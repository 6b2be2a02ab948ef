"""Tier-3 pre-flight: mimic the driver's DuckDB cross-check locally.

For every queries() entry with an oracle, run the Spark query and the DuckDB
SQL on the same parquet tables (sf0.001 for speed; the driver uses sf0.01)
and compare row count, column names/order-insensitive values. Catches
engine-dialect drift before the real correctness gate does.
"""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

# default sf0.01 — the driver's gate scale, so dialect drift can't hide in
# the smaller sample; set SPARK_GRAFT_PARITY_SF_DIR=/root/testdata/sf0.001
# for a faster inner-loop run while iterating
SF_DIR = os.environ.get(
    "SPARK_GRAFT_PARITY_SF_DIR", "/root/testdata/sf0.01"
)
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return f"{float(v):.6g}"
    return str(v)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())

# A fixed sample re-run under production shuffle settings (AQE on, 200
# shuffle partitions): the global-window queries that pull every row
# into one partition (builder-level, then inside functions/), the
# extraction job's own per-turn shapes, then wide joins and aggregations
# whose partition count AQE coalesces.
WIDE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.shuffle.partitions": "200",
}
WIDE_SAMPLE = (
    "q_ntile_deciles", "q_top_words", "q_join_topn", "q_tpch_q3", "q_rbo",
    "q_cms_freq",
    "q_ks_drift", "q_rrf_fusion", "q_lift_table", "q_zipf_fit",
    "q_explode_reassembly", "q_conv_rollup", "q_group_metrics",
    "q_error_classify",
    "q_tpch_q1", "q_tpch_q5", "q_tpch_q18", "q_minhash_lsh",
    "q_dedup_components", "q_window_order",
)
PARITY_CASES = [pytest.param(n, {}, id=n) for n in ORACLE_KEYS] + [
    pytest.param(n, WIDE_CONF, id=f"wide-{n}") for n in WIDE_SAMPLE
]


@pytest.mark.parametrize("name, conf", PARITY_CASES)
def test_oracle_parity(spark, duck, name, conf):
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        sdf = entry_mod.queries()[name](spark, SF_DIR)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    rel = duck.sql(entry_mod.oracle_sql()[name])
    duck_cols = rel.columns
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: columns differ: spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s, d = _rowset(spark_cols, spark_rows), _rowset(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={s[mism[0]]} duck={d[mism[0]]}"
    )


def test_all_queries_run(spark):
    """Every queries() entry (incl. rows-only ones) returns a DataFrame with
    a stable schema and >= 0 rows at sf0.001."""
    for name, q in entry_mod.queries().items():
        df = q(spark, SF_DIR)
        n = df.count()
        assert n >= 0, name
        assert df.columns, name


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "extracted_text" in df.columns
