"""Local simulation of the driver's CORRECTNESS gate.

For every key in ``__spark_entry__.queries()``: run the Spark query at
``sf_dir`` (default /root/testdata/sf0.01), run the matching
``oracle_sql()`` string in DuckDB over the same parquet tables, then
canonicalize both sides the way the driver does — pandas frame, columns
sorted by name, rows sorted by all columns (this is the step that dies on
list-typed cells, the round-1 ERR class) — and compare row count, column
names, and a value hash.

Usage:
    python scripts/check_oracle.py [query ...]   # default: all queries
Env:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.01)
    SPARK_GRAFT_ORACLE_JSON  write the full per-query result map to this
        path (r4 verdict #3: the full-matrix sweep becomes a committed
        artifact — CORRECTNESS_full.json — instead of a commit-message
        claim). The file maps sf label -> query -> {status, rows, sec,
        spark_hash}; ``spark_hash`` is the Spark side's canonical digest,
        recorded for rows-only queries too, so two sweeps of the same
        data show whether a change altered any query's output;
        when the file already exists, the sweep is merged in (see
        ``merge_sweep``), so one artifact carries both scales and a
        re-sweep of a few queries keeps every other record.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
import traceback
from collections import Counter

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """(rows, sorted column names, value hash) — mimics the driver: sort
    columns by name, sort rows by all columns, stringify with float
    rounding, md5."""
    cols = sorted(df.columns)
    df = df[cols]
    if len(df):
        df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    parts = []
    for c in cols:
        s = df[c]
        if s.dtype.kind == "f":
            # the driver formats floats with %.6g — which also collapses
            # integral floats (DuckDB HUGEINT sums arrive as float64) to
            # the same string an int64 column produces ("8809", not
            # "8809.0"); round() + str() would flag a pure dtype skew
            s = s.map(lambda v: f"{v:.6g}")
        parts.append(s.astype(str).str.cat(sep="\x1f"))
    digest = hashlib.md5("\x1e".join(parts).encode()).hexdigest()
    return len(df), cols, digest


def merge_sweep(
    blob: dict, sf_label: str, record: dict, registry, oracled
) -> None:
    """Fold one sweep's per-query ``record`` into the artifact ``blob``,
    in place.

    The new records replace same-named ones in the ``sf_label`` block and
    every other record of that block is kept, so a sweep of a query
    subset updates only those queries. Every block then drops the
    records of queries no longer in ``registry``, and its ``n_pass`` /
    ``n_rows_only`` / ``n_fail`` are recounted from the records it
    holds. ``registry_total`` / ``oracled_total`` count ``registry`` /
    ``oracled``.
    """
    registry = set(registry)
    sweeps = blob.setdefault("sweeps", {})
    old = sweeps.get(sf_label, {}).get("queries", {})
    sweeps[sf_label] = {"queries": {**old, **record}}
    for block in sweeps.values():
        queries = {
            k: v for k, v in block["queries"].items() if k in registry
        }
        status = Counter(v["status"] for v in queries.values())
        block.update(
            n_pass=status["pass"],
            n_rows_only=status["rows_only"],
            n_fail=len(queries) - status["pass"] - status["rows_only"],
            queries=queries,
        )
    blob["registry_total"] = len(registry)
    blob["oracled_total"] = len(oracled)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    only = set(sys.argv[1:])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("check_oracle")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        # a typo must not report "0 fail" success for a gate that never ran
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        spark.stop()
        return 2
    n_pass = n_rowsonly = n_fail = 0
    failures = []
    record = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            s_rows, s_cols, s_hash = _canon(sdf)
        except Exception:
            n_fail += 1
            failures.append(name)
            record[name] = {"status": "err_spark", "rows": None}
            print(f"ERR  {name}: spark side\n{traceback.format_exc()}")
            continue
        sql = oracles.get(name)
        sec = round(time.time() - t0, 1)
        if sql is None:
            n_rowsonly += 1
            record[name] = {
                "status": "rows_only", "rows": s_rows, "sec": sec,
                "spark_hash": s_hash,
            }
            print(f"rows {name}: {s_rows} rows (no oracle) [{sec}s]")
            continue
        try:
            odf = con.execute(sql).fetchdf()
            o_rows, o_cols, o_hash = _canon(odf)
        except Exception:
            n_fail += 1
            failures.append(name)
            record[name] = {
                "status": "err_oracle", "rows": s_rows, "spark_hash": s_hash,
            }
            print(f"ERR  {name}: oracle side\n{traceback.format_exc()}")
            continue
        ok = (s_rows == o_rows) and (s_cols == o_cols) and (s_hash == o_hash)
        sec = round(time.time() - t0, 1)
        if ok:
            n_pass += 1
            record[name] = {
                "status": "pass", "rows": s_rows, "sec": sec,
                "spark_hash": s_hash,
            }
            print(f"PASS {name}: {s_rows} rows [{sec}s]")
        else:
            n_fail += 1
            failures.append(name)
            record[name] = {
                "status": "fail",
                "rows": s_rows,
                "oracle_rows": o_rows,
                "cols_match": s_cols == o_cols,
                "hash_match": s_hash == o_hash,
                "spark_hash": s_hash,
            }
            print(
                f"FAIL {name}: rows {s_rows}/{o_rows} "
                f"cols_match={s_cols == o_cols} hash_match={s_hash == o_hash}"
            )
            if s_cols != o_cols:
                print(f"     spark cols:  {s_cols}\n     oracle cols: {o_cols}")

    print(
        f"\n== {n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail"
        + (f" ({', '.join(failures)})" if failures else "")
    )
    out_json = os.environ.get("SPARK_GRAFT_ORACLE_JSON")
    if out_json:
        import json

        sf_label = os.path.basename(sf_dir.rstrip("/"))
        blob = {}
        if os.path.exists(out_json):
            with open(out_json) as f:
                blob = json.load(f)
        merge_sweep(blob, sf_label, record, queries, oracles)
        with open(out_json, "w") as f:
            json.dump(blob, f, indent=1, sort_keys=True)
        print(f"== wrote {out_json} [{sf_label}]")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
