"""Exact order statistics that percentile()/approx_percentile and the
builtin aggregates don't cover: the weighted quantile and the rolling
median. Both are built from INTEGER plans (value ordering + BIGINT
cumulative weights, quantized BIGINT frames); no float comparison
decides a row — the strongest possible cross-engine determinism class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .curate import _quant


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: tuple[str, ...] = (),
    q_num: int = 1,
    q_den: int = 2,
) -> DataFrame:
    """Exact lower weighted q-quantile per group (default q=1/2, the
    weighted median): the smallest value whose cumulative weight reaches
    ``q`` of the group's total — "the doc length below which half the
    TOKENS sit" rather than half the docs, the question a token-budgeted
    corpus actually asks. The quantile is given as a RATIONAL
    ``q_num/q_den`` and the reach test is ``cumw * q_den >= total *
    q_num`` — integer weights in, zero float comparisons anywhere.

    Plan: one group-keyed window (ordered cumulative sum + full-frame
    total over the SAME exchange), one min-aggregate. Returns
    ``(group..., total_w, wq_value)``.
    """
    v = F.col(value_col)
    wt = F.col(weight_col).cast("long")
    win = Window.partitionBy(*group_cols).orderBy(
        v.asc(), wt.asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy(*group_cols)
    marked = df.select(
        *group_cols,
        v.alias("__v"),
        F.sum(wt).over(win).alias("__cumw"),
        F.sum(wt).over(full).alias("__total"),
    )
    reached = marked.filter(
        F.col("__cumw") * q_den >= F.col("__total") * q_num
    )
    return reached.groupBy(*group_cols).agg(
        F.max("__total").cast("long").alias("total_w"),
        F.min("__v").alias("wq_value"),
    )


def rolling_median(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_cols: tuple[str, ...],
    value_col: str,
    window_rows: int = 5,
    quantize: int = 2,
) -> DataFrame:
    """Exact rolling LOWER median over the trailing ``window_rows``
    observations per group — the robust twin of the trailing mean
    (one outlier can't drag it). No engine exposes median as a native
    running window aggregate; the exact construction is a per-frame
    sorted array pick: element ceil(n/2) (1-based) of the ascending
    frame — a total, deterministic definition with NO averaging of
    middle pairs, so quantized BIGINTs pass through untouched and the
    cross-engine hash is exact.

    Plan/scale: one group-keyed window; the collected frame is bounded
    by ``window_rows`` (a constant), so per-row state is O(w log w)
    sort work and the operator is one exchange. For large w prefer a
    two-heap/streaming-percentile design — out of scope; trailing
    windows in practice are small (5–100 rows).

    Returns (group..., order..., med_q) with med_q = the quantized
    BIGINT median (divide by 10^quantize downstream if the raw scale
    is wanted).
    """
    q = _quant(F.col(value_col), quantize)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window_rows - 1), Window.currentRow)
    )
    frame = F.sort_array(F.collect_list(q).over(w))
    med = F.element_at(
        frame, F.ceil(F.size(frame) / 2).cast("int")
    )
    return df.select(
        *group_cols, *order_cols, med.alias("med_q")
    )
