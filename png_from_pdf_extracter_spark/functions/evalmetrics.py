"""Classifier / ranking evaluation metrics as pure DataFrame plans.

A curation stack trains quality classifiers (fastText-shape hashed
linear models, `curate.hashed_linear_score`) and has to EVALUATE them
on held-out labels before gating 100 TB of corpus on their output. The
canonical threshold-free metric is ROC-AUC; the canonical thresholded
report is the confusion matrix. Both are implemented here as one-pass
window + aggregate plans — no collect, no Python, no per-row UDF.

Determinism / oracle story (the repo convention): ROC-AUC is computed
via the Mann-Whitney rank-sum identity

    AUC = (R_pos - n_pos*(n_pos+1)/2) / (n_pos * n_neg)

where R_pos is the sum of the positives' AVERAGE ranks (ties share the
mean of their rank range). Average ranks are multiples of 1/2, so we
keep ``2*R_pos`` in BIGINT space: ``2*avg_rank = 2*rank() + n_ties - 1``
(rank() = the minimum rank of the tie group). The whole statistic is
integer until one terminal division — bit-exact across engines and
partitionings, per the repo's exact-rational emitter rule.

Scale notes: one exchange on the group key for the rank window (the
sort is per-group, skew bounded by the largest group), then one
combinable aggregate. The tie count is a window over (group, score) —
same exchange, no extra shuffle. For a global (ungrouped) AUC over
10^12 rows a single-partition sort would be the bottleneck; group by a
stratum (source, language, shard) as this API encourages, then combine
per-group counts driver-side if a pooled number is needed.

Reference analog: the reference has no evaluation surface; this is the
training-data-pipeline extension the brief asks for (quality-classifier
gate, `/root/reference/src/services/whitelist_service.py:26-38` being
its only "classifier").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def roc_auc(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group ROC-AUC of ``score_col`` against binary ``label_col``.

    ``label_col`` must be 0/1 (int or boolean — cast yourself). Returns
    one row per group: ``(group..., n_pos, n_neg, auc_num2, auc)`` where
    ``auc_num2 = 2*R_pos - 2*n_pos*(n_pos+1)/2`` is the exact BIGINT
    numerator (AUC = auc_num2 / (2*n_pos*n_neg)) and ``auc`` is the one
    terminal division (NULL when a group has no positives or no
    negatives — AUC is undefined there, not 0).

    Ties get average ranks (the standard Mann-Whitney treatment), so a
    constant classifier scores exactly 0.5.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    gcols = [F.col(g) for g in group_cols]

    w_rank = Window.partitionBy(*gcols).orderBy(s)
    w_tie = Window.partitionBy(*gcols, s)
    # 2 * average rank of this row's tie group, as BIGINT
    two_avg_rank = (
        2 * F.rank().over(w_rank) + F.count(F.lit(1)).over(w_tie) - 1
    ).cast("long")

    ranked = df.select(
        *gcols,
        y.cast("long").alias("__y"),
        two_avg_rank.alias("__r2"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("__y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("__y")).alias("n_neg"),
        F.sum(F.when(F.col("__y") == 1, F.col("__r2")).otherwise(F.lit(0)))
        .alias("__r2pos"),
    )
    num2 = (
        F.col("__r2pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    ).cast("long")
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        num2.alias("auc_num2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            num2.cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
        ).alias("auc"),
    )


def confusion_counts(
    df: DataFrame,
    pred_col: str | Column,
    label_col: str | Column,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-group confusion matrix of a boolean prediction vs a 0/1 label:
    ``(group..., tp, fp, fn, tn)`` — one combinable aggregate, all
    BIGINT. Derived rates (precision/recall/F1) are one exact terminal
    division away; emit them at the call site so the integer counts stay
    the hashable record."""
    p = F.col(pred_col) if isinstance(pred_col, str) else pred_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    p = p.cast("boolean")
    yl = y.cast("long")
    return df.groupBy(*group_cols).agg(
        F.sum(F.when(p & (yl == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(p & (yl == 0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~p & (yl == 1), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~p & (yl == 0), 1).otherwise(0)).alias("tn"),
    )


def ndcg_at_k(
    ranked: DataFrame,
    rel_col: str = "rel",
    rank_col: str = "rank",
    group_cols: tuple[str, ...] = ("query_id",),
    k: int = 10,
    max_rel: int = 16,
) -> DataFrame:
    """NDCG@k per query over a ranked result table ``(group..., rank,
    rel)`` with integer graded relevance: ``DCG = sum (2^rel - 1) /
    log2(rank + 1)``, ``IDCG`` the same sum over the query's relevances
    sorted descending, ``ndcg = DCG/IDCG`` (NULL when the query has no
    relevant result — undefined, not 0).

    Determinism: both sums are ARRAY FOLDS over explicitly sorted lists
    (`sort_array(collect_list(...))`), so the float summation order is
    pinned — a plain SUM() aggregate would be partition-order dependent
    and unverifiable cross-engine. Emitted floor-6dp. One shuffle on the
    group key; list length is <= k by construction (result lists, never
    the corpus). ``max_rel`` bounds the 2^rel term (raises above it —
    a mis-typed relevance column would silently overflow the double).
    """
    r = F.col(rank_col)
    rel = F.col(rel_col).cast("long")
    base = ranked.filter(r <= k).select(
        *group_cols,
        r.cast("int").alias("__rank"),
        F.when(
            rel <= max_rel, rel
        ).otherwise(
            F.raise_error(f"rel > max_rel ({max_rel}) — wrong column?")
        ).alias("__rel"),
    )
    gain = lambda c: F.pow(F.lit(2.0), c.cast("double")) - F.lit(1.0)  # noqa: E731
    agg = base.groupBy(*group_cols).agg(
        F.sort_array(
            F.collect_list(F.struct("__rank", "__rel"))
        ).alias("__by_rank"),
        F.sort_array(F.collect_list("__rel"), asc=False).alias("__ideal"),
    )
    dcg = F.aggregate(
        F.col("__by_rank"),
        F.lit(0.0),
        lambda acc, s: acc
        + gain(s["__rel"]) / F.log2(s["__rank"].cast("double") + 1.0),
    )
    idcg = F.aggregate(
        F.transform(
            F.col("__ideal"),
            lambda x, i: gain(x) / F.log2(i.cast("double") + 2.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return agg.select(
        *group_cols,
        F.size("__by_rank").alias("n_ranked"),
        (F.floor(dcg * F.lit(1e6)) / F.lit(1e6)).alias("dcg"),
        (F.floor(idcg * F.lit(1e6)) / F.lit(1e6)).alias("idcg"),
        F.when(idcg > 0, F.floor(dcg / idcg * F.lit(1e6)) / F.lit(1e6))
        .alias("ndcg"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
    n_bins: int = 10,
    lo: float = -1.0,
    hi: float = 1.0,
) -> DataFrame:
    """Reliability-diagram bins for a classifier score against a 0/1
    label: equal-width bins over [lo, hi], per bin ``n``, ``n_pos``,
    ``pos_rate`` (exact rational), and the mean score reconstructed from
    an INTEGER numerator (scores are floor-4dp-quantized, so
    ``score*10000`` is integral and its BIGINT sum is order-independent
    — a float AVG would be partition-order noise). The gap between
    ``pos_rate`` and ``mean_score`` per bin is the calibration error.
    One combinable aggregate; map-side bin assignment."""
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    # quantize ONCE to an integer (floor(s*1e4) is already a long) —
    # re-deriving the integer as sq*10000 after the division would
    # truncate one off when the double lands just below the integer
    s4 = F.floor(s * F.lit(10000.0)).cast("long")
    sq = s4.cast("double") / F.lit(10000.0)
    width = (hi - lo) / n_bins
    b = F.least(
        F.greatest(
            F.floor((sq - F.lit(lo)) / F.lit(width)).cast("int"), F.lit(0)
        ),
        F.lit(n_bins - 1),
    )
    agg = (
        df.select(
            b.alias("bin"),
            y.cast("long").alias("__y"),
            s4.alias("__s4"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("__y").alias("n_pos"),
            F.sum("__s4").alias("__sum_s4"),
        )
    )
    return agg.select(
        "bin",
        "n",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n").cast("double")).alias(
            "pos_rate"
        ),
        (
            F.col("__sum_s4").cast("double")
            / (F.col("n") * 10000).cast("double")
        ).alias("mean_score"),
    )

def logreg_train(
    df: DataFrame,
    feature_cols: tuple[str, ...],
    label_col: str,
    iters: int = 8,
    ridge: float = 1e-6,
    sample_frac: tuple[int, int] | None = None,
    sample_id_col: str | None = None,
) -> tuple[list, dict]:
    """Distributed logistic-regression training via Newton/IRLS — the
    missing third of the classifier story (inference =
    ``curate.hashed_linear_score``, evaluation = ``roc_auc`` /
    ``calibration_bins``; this TRAINS the quality gate in-pipeline, the
    way production corpus filters train their fastText-shape models on
    a labeled sample).

    Per iteration, ONE map-combinable aggregate pass computes the exact
    gradient g = Σ x·(y − p) and Hessian H = Σ p(1−p)·x·xᵀ with the
    current weights folded in as literals (p = sigmoid(w·x), pure
    column expressions — no Python in the pass); the driver solves the
    (d+1)×(d+1) Newton system with numpy and updates w. Driver state is
    d² floats per iteration — BOUNDED by feature count, never by rows
    (the repo's driver-state budget rule; d is small by design, this is
    a quality-gate trainer, not a deep model). Total cost: ``iters``
    passes over the sample.

    A ridge term (``ridge`` × identity, intercept included) keeps H
    invertible under separable data. Feature scaling is the caller's
    job (z-score or bounded signals — the usual quality-score inputs).

    Iteration discipline: the projected feature frame is ``persist()``-ed
    before the IRLS loop and unpersisted after — without it every Newton
    pass (plus the final loss pass) re-executes the FULL upstream plan,
    which at 100 TB means iters+1 complete corpus scans for a trainer
    whose aggregate output is d² floats. ``sample_frac=(num, den)`` with
    ``sample_id_col`` additionally caps the training set with the
    deterministic [[curate.hash_sample]] predicate (applied BEFORE the
    persist, so the cached working set shrinks too): a quality-gate
    trainer never needs all 100 TB — a reproducible hash slice gives the
    same weights on every rerun, unlike ``df.sample``.

    Returns (weights, stats): ``weights`` = [intercept, w_1..w_d] as
    Python floats; ``stats`` = {"n": rows, "log_loss": mean final NLL,
    "iters": iterations run}. Float-sum order across partitions makes
    the low bits run-dependent — this op is rows-only at the oracle
    gate; tests pin it against a numpy IRLS twin on the collected
    sample to 1e-6.

    Reference analog: the reference's only "classifier" is a fixed
    regex whitelist (src/services/whitelist_service.py:26-38); this is
    the learned replacement a 100-TB curation pass needs.
    """
    import numpy as np

    from .curate import hash_sample

    d = len(feature_cols)
    if sample_frac is not None:
        if sample_id_col is None:
            raise ValueError("sample_frac requires sample_id_col")
        df = df.filter(
            hash_sample(df, sample_id_col, sample_frac[0], sample_frac[1])
        )
    feats = df.select(
        F.col(label_col).cast("double").alias("__y"),
        *[
            F.col(c).cast("double").alias(f"__x{i}")
            for i, c in enumerate(feature_cols)
        ],
    ).na.drop()
    # materialize ONCE: iters Newton passes + the loss pass all re-read
    # this frame; without the persist each is a full upstream recompute
    feats = feats.persist()
    w = np.zeros(d + 1)
    xs = [F.lit(1.0)] + [F.col(f"__x{i}") for i in range(d)]
    n_rows = 0
    for _ in range(iters):
        z = sum(
            (x * float(wi) for x, wi in zip(xs, w)), start=F.lit(0.0)
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        resid = F.col("__y") - p
        wgt = p * (F.lit(1.0) - p)
        aggs = [F.count("*").alias("n")]
        for i in range(d + 1):
            aggs.append(F.sum(xs[i] * resid).alias(f"g{i}"))
            for j in range(i, d + 1):
                aggs.append(F.sum(wgt * xs[i] * xs[j]).alias(f"h{i}_{j}"))
        row = feats.agg(*aggs).collect()[0]
        n_rows = row["n"]
        g = np.array([row[f"g{i}"] for i in range(d + 1)])
        H = np.zeros((d + 1, d + 1))
        for i in range(d + 1):
            for j in range(i, d + 1):
                H[i, j] = H[j, i] = row[f"h{i}_{j}"]
        H += ridge * np.eye(d + 1)
        w = w + np.linalg.solve(H, g)
    z = sum((x * float(wi) for x, wi in zip(xs, w)), start=F.lit(0.0))
    # numerically-stable NLL: log(1+e^z) - y*z == softplus via log1p
    nll = F.log1p(F.exp(-F.abs(z))) + F.greatest(z, F.lit(0.0)) - (
        F.col("__y") * z
    )
    loss = feats.agg(F.avg(nll).alias("l")).collect()[0]["l"]
    feats.unpersist()
    return list(map(float, w)), {
        "n": int(n_rows),
        "log_loss": float(loss),
        "iters": iters,
    }


def logreg_score(
    df: DataFrame, feature_cols: tuple[str, ...], weights: list
) -> Column:
    """Column expression scoring rows with [[logreg_train]] weights:
    sigmoid(w·x) as pure built-ins — the trained twin of
    ``curate.hashed_linear_score``, broadcastable into any gate."""
    z = F.lit(float(weights[0]))
    for c, wi in zip(feature_cols, weights[1:]):
        z = z + F.col(c).cast("double") * float(wi)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def isotonic_calibrate(
    df,
    score_col: str,
    label_col: str,
    n_bins: int = 64,
    lo: float = -1.0,
    hi: float = 1.0,
):
    """Isotonic (monotone) calibration of a classifier score against a
    binary label — the standard post-hoc calibrator when Platt's
    sigmoid shape assumption fails, and the one production quality
    gates fit before thresholding a corpus. Binned PAVA: scores are
    bucketed into ``n_bins`` equal-width bins, per-bin (count,
    positives) are exact BIGINTs from ONE map-combinable aggregation,
    and pool-adjacent-violators runs driver-side over the <= n_bins
    pool list — the documented bounded-collect pattern (same budget
    class as the IVF centroids): the driver state is n_bins rows no
    matter the corpus size, which is exactly how large-scale isotonic
    calibration is deployed (sklearn-style exact PAVA over raw rows
    needs a global sort; binned PAVA is the 100-TB formulation).

    Exactness: PAVA merge decisions compare pool means as exact
    integer cross-products (``s1*w2 > s2*w1`` — Python bigints, no
    float ever decides a merge); the fitted value per pool is ONE
    Python float division of exact ints, bit-identical to the SQL
    oracle's minimax formulation ``fit(k) = max_{i<=k} min_{j>=k}
    avg(i..j)`` (the classic PAVA duality), whose attaining segment is
    the pool itself — same integer pair, same IEEE quotient. Returns
    (bin, n, pos, fit_ppm) for every NON-EMPTY bin; fit_ppm is
    floor-6dp and nondecreasing in bin.
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    if not (hi > lo):
        raise ValueError("need hi > lo")
    s = F.col(score_col).cast("double")
    b = F.least(
        F.greatest(
            F.floor((s - F.lit(lo)) / F.lit(hi - lo) * F.lit(n_bins)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    binned = (
        df.select(b.alias("bin"), F.col(label_col).cast("long").alias("y"))
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    rows = sorted(binned.collect(), key=lambda r: r["bin"])
    # PAVA over (w, s) pools; merge while the fit would decrease.
    pools: list[list[int]] = []  # [w, s, first_idx]
    for idx, r in enumerate(rows):
        pools.append([r["n"], r["pos"], idx])
        while len(pools) >= 2:
            w2, s2, _ = pools[-1]
            w1, s1, _ = pools[-2]
            if s1 * w2 > s2 * w1:  # mean(prev) > mean(cur): violation
                pools[-2][0] = w1 + w2
                pools[-2][1] = s1 + s2
                pools.pop()
            else:
                break
    fits = [0.0] * len(rows)
    bounds = [p[2] for p in pools] + [len(rows)]
    for pi, p in enumerate(pools):
        f = p[1] / p[0]
        for idx in range(bounds[pi], bounds[pi + 1]):
            fits[idx] = f
    import math

    spark = df.sparkSession
    out = [
        (int(r["bin"]), int(r["n"]), int(r["pos"]),
         int(math.floor(fits[i] * 1e6)))
        for i, r in enumerate(rows)
    ]
    return spark.createDataFrame(
        out, "bin int, n long, pos long, fit_ppm long"
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelers (heuristic vs gold, two annotators, model vs
    model): the honesty check behind every "our classifier agrees with
    the labels 90% of the time" claim when the label marginals are
    skewed enough that chance alone agrees 85%.

    INTEGER-EXACT assembly: with N rows, ``agree`` the diagonal count
    and ``chance_x = sum_k rowmargin_k * colmargin_k``, kappa is the
    single rational ``(N*agree - chance_x) / (N*N - chance_x)`` — three
    combinable BIGINT aggregates (pair counts, two margin tables joined
    on the label — both bounded by label cardinality) and ONE float
    division, floor-6dp. NULL when the denominator is zero (both raters
    constant — agreement is vacuous, the standard kappa degenerate
    case).

    Returns one row: (n, agree, chance_x, kappa_q6).
    """
    pairs = df.select(
        F.col(rater_a).alias("__a"), F.col(rater_b).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    n_agree = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("__a") == F.col("__b")).cast("long")).alias("agree"),
    )
    ma = pairs.groupBy("__a").agg(F.count("*").alias("__ra"))
    mb = pairs.groupBy(F.col("__b").alias("__a")).agg(
        F.count("*").alias("__rb")
    )
    chance = ma.join(mb, "__a").agg(
        F.coalesce(
            F.sum(F.col("__ra") * F.col("__rb")), F.lit(0)
        ).cast("long").alias("chance_x")
    )
    num = (
        F.col("n") * F.col("agree") - F.col("chance_x")
    ).cast("double")
    den = (F.col("n") * F.col("n") - F.col("chance_x")).cast("double")
    return n_agree.crossJoin(chance).select(
        "n",
        "agree",
        "chance_x",
        F.when(
            F.col("n") * F.col("n") != F.col("chance_x"),
            F.floor(num / den * F.lit(1e6)) / F.lit(1e6),
        ).alias("kappa_q6"),
    )


def weighted_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Weighted Cohen's kappa for ORDINAL labels — linear and quadratic
    disagreement weights in one pass: a rating one band off is a lesser
    error than one three bands off, which nominal [[cohens_kappa]]
    cannot see. Quadratic-weighted kappa is the standard agreement
    number for graded annotation tasks (quality tiers, length bands,
    priority grades).

    INTEGER-EXACT assembly: categories cast to BIGINT; with observed
    cells O_ij, margins R_i / C_j and disagreement weights
    w_ij = |i-j| (linear) / (i-j)^2 (quadratic),
    kappa_w = 1 - N * sum_ij w_ij O_ij / sum_ij w_ij R_i C_j. Both
    sums fold in DECIMAL(38,0) off the k x k cell table and the
    margin cross join (bounded by CATEGORY cardinality — broadcast,
    never row-sized), ONE terminal float division each. NULL when the
    chance-disagreement denominator is 0 (both raters constant —
    kappa degenerate). Returns one row
    (n, k_cats, kappa_lin_q6, kappa_quad_q6).
    """
    pairs = df.select(
        F.col(rater_a).cast("long").alias("__a"),
        F.col(rater_b).cast("long").alias("__b"),
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    cells = pairs.groupBy("__a", "__b").agg(
        F.count("*").cast("long").alias("__o")
    )
    obs = cells.agg(
        F.sum("__o").cast("long").alias("n"),
        F.sum(
            dec(F.abs(F.col("__a") - F.col("__b"))) * dec(F.col("__o"))
        ).alias("__wo_lin"),
        F.sum(
            dec(F.col("__a") - F.col("__b"))
            * dec(F.col("__a") - F.col("__b"))
            * dec(F.col("__o"))
        ).alias("__wo_quad"),
    )
    ma = pairs.groupBy("__a").agg(F.count("*").cast("long").alias("__r"))
    mb = pairs.groupBy(F.col("__b").alias("__bb")).agg(
        F.count("*").cast("long").alias("__c")
    )
    chance = ma.crossJoin(F.broadcast(mb)).agg(
        F.sum(
            dec(F.abs(F.col("__a") - F.col("__bb")))
            * dec(F.col("__r"))
            * dec(F.col("__c"))
        ).alias("__we_lin"),
        F.sum(
            dec(F.col("__a") - F.col("__bb"))
            * dec(F.col("__a") - F.col("__bb"))
            * dec(F.col("__r"))
            * dec(F.col("__c"))
        ).alias("__we_quad"),
    )
    kcats = (
        pairs.select(F.col("__a").alias("__k"))
        .unionByName(pairs.select(F.col("__b").alias("__k")))
        .agg(F.countDistinct("__k").cast("long").alias("k_cats"))
    )
    q6 = lambda x: F.floor(x * F.lit(1e6)) / F.lit(1e6)  # noqa: E731

    def _kap(wo, we):
        return F.when(
            F.col(we).cast("double") > 0,
            q6(
                F.lit(1.0)
                - F.col("n").cast("double")
                * F.col(wo).cast("double")
                / F.col(we).cast("double")
            ),
        )

    return (
        obs.crossJoin(F.broadcast(chance))
        .crossJoin(F.broadcast(kcats))
        .select(
            "n",
            "k_cats",
            _kap("__wo_lin", "__we_lin").alias("kappa_lin_q6"),
            _kap("__wo_quad", "__we_quad").alias("kappa_quad_q6"),
        )
    )


def mcnemar_test(
    df: DataFrame,
    label_col: str,
    pred_a_col: str,
    pred_b_col: str,
) -> DataFrame:
    """McNemar's test on PAIRED classifier predictions — the correct
    way to ask "is model B actually better than model A" on the same
    eval set (comparing two marginal accuracies ignores the pairing and
    overstates significance). Only the discordant cells matter:
    b = (A right, B wrong), c = (A wrong, B right); the continuity-
    corrected statistic is (|b - c| - 1)^2 / (b + c), chi2_1 under the
    null that both models err at the same rate.

    EXACT cross-engine: b and c are plain conditional counts (one
    map-combinable aggregate, no shuffle beyond the single reduce); the
    statistic is ONE float expression over two exact BIGINTs. Returns
    one row (n, b, c, mcnemar_q6, acc_a_ppm, acc_b_ppm); mcnemar_q6 is
    null when b + c = 0 (no discordant pairs — the test is undefined
    and the models are operationally identical).
    """
    y = F.col(label_col).cast("boolean")
    a_ok = (F.col(pred_a_col).cast("boolean") == y).cast("long")
    b_ok = (F.col(pred_b_col).cast("boolean") == y).cast("long")
    agg = df.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(a_ok * (1 - b_ok)).cast("long").alias("b"),
        F.sum((1 - a_ok) * b_ok).cast("long").alias("c"),
        F.sum(a_ok).cast("long").alias("__na"),
        F.sum(b_ok).cast("long").alias("__nb"),
    )
    d = F.abs(F.col("b") - F.col("c")).cast("double") - F.lit(1.0)
    stat = d * d / (F.col("b") + F.col("c")).cast("double")
    return agg.select(
        "n",
        "b",
        "c",
        F.when(
            F.col("b") + F.col("c") > 0,
            F.floor(stat * F.lit(1e6)) / F.lit(1e6),
        ).alias("mcnemar_q6"),
        F.floor(
            F.col("__na").cast("double") / F.col("n").cast("double")
            * F.lit(1e6)
        ).cast("long").alias("acc_a_ppm"),
        F.floor(
            F.col("__nb").cast("double") / F.col("n").cast("double")
            * F.lit(1e6)
        ).cast("long").alias("acc_b_ppm"),
    )


def mcc(
    df: DataFrame,
    pred_col: str | Column,
    label_col: str | Column,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Matthews correlation coefficient per group — the single-number
    confusion summary that stays honest under class imbalance (where
    accuracy and even F1 inflate): MCC = (tp*tn - fp*fn) /
    sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)), the Pearson correlation of the
    prediction/label indicator variables. The gate metric of choice
    when a quality classifier must hold on a corpus that is 99%
    negative.

    EXACT cross-engine: the four cells come from [[confusion_counts]]'s
    one map-combinable aggregate; the numerator tp*tn - fp*fn stays
    BIGINT, the denominator is assembled as a product of four DOUBLE
    sqrts in fixed order (the BIGINT product of four margins would
    overflow at corpus scale — sqrt each margin first, exactly the
    expression the oracle mirrors). Returns (group..., tp, fp, fn, tn,
    mcc_q6); mcc_q6 null when any margin is zero (MCC undefined —
    degenerate predictor or single-class group).
    """
    cells = confusion_counts(df, pred_col, label_col, group_cols)
    m1 = (F.col("tp") + F.col("fp")).cast("double")
    m2 = (F.col("tp") + F.col("fn")).cast("double")
    m3 = (F.col("tn") + F.col("fp")).cast("double")
    m4 = (F.col("tn") + F.col("fn")).cast("double")
    num = (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")).cast(
        "double"
    )
    val = num / (F.sqrt(m1) * F.sqrt(m2) * F.sqrt(m3) * F.sqrt(m4))
    return cells.select(
        *group_cols,
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            (m1 > 0) & (m2 > 0) & (m3 > 0) & (m4 > 0),
            F.floor(val * F.lit(1e6)) / F.lit(1e6),
        ).alias("mcc_q6"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col: str | Column,
    label_col: str | Column,
) -> DataFrame:
    """Murphy decomposition of the Brier score, one row per distinct
    forecast value: Brier = reliability - resolution + uncertainty.
    Reliability (per forecast bin: n/N * (forecast - pos_rate)^2)
    punishes miscalibration; resolution (n/N * (pos_rate - base)^2)
    rewards a classifier whose bins actually separate the label. The
    decomposition is EXACT when forecasts are constant within bins —
    guaranteed here because the bin IS the 4dp-quantized score
    ([[calibration_bins]]'s convention), never a range.

    EXACT cross-engine: per-bin n, n_pos and the within-bin squared
    error sse8 = sum((s4 - 10^4*y)^2) are BIGINTs (units of 1e-8; the
    global Brier is sum(sse8)/(N*1e8)); rel/res are single fixed-order
    float expressions over those integers plus the global (N, pos)
    pair, which rides in on a single-row broadcast crossJoin (the
    documented scalar pattern). Returns (s4, n, n_pos, sse8, rel_q9,
    res_q9) ordered by s4 — q9 because per-bin terms are tiny and q6
    would flush them to zero.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = F.col(label_col) if isinstance(label_col, str) else label_col
    s4 = F.floor(s * F.lit(10000.0)).cast("long")
    yl = y.cast("long")
    base = df.select(
        s4.alias("s4"),
        yl.alias("__y"),
        ((s4 - 10000 * yl) * (s4 - 10000 * yl)).alias("__e8"),
    )
    bins = base.groupBy("s4").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum("__e8").cast("long").alias("sse8"),
    )
    tot = base.agg(
        F.count("*").cast("long").alias("__nn"),
        F.sum("__y").cast("long").alias("__pp"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    nn = F.col("__nn").cast("double")
    fdiff = (
        F.col("s4").cast("double") / F.lit(1e4)
        - F.col("n_pos").cast("double") / F.col("n").cast("double")
    )
    bdiff = (
        F.col("n_pos").cast("double") / F.col("n").cast("double")
        - F.col("__pp").cast("double") / nn
    )
    rel = F.col("n").cast("double") / nn * fdiff * fdiff
    res = F.col("n").cast("double") / nn * bdiff * bdiff
    return j.select(
        "s4",
        "n",
        "n_pos",
        "sse8",
        (F.floor(rel * F.lit(1e9)) / F.lit(1e9)).alias("rel_q9"),
        (F.floor(res * F.lit(1e9)) / F.lit(1e9)).alias("res_q9"),
    )


def retrieval_metrics(
    judged: DataFrame,
    group_cols: tuple[str, ...] = ("query_id",),
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 5,
    total_rel_col: str | None = None,
) -> DataFrame:
    """Precision@k, recall@k and reciprocal rank per query over a
    judged ranking table ``(group..., rank, rel)`` with binary
    relevance — the thresholded companions to [[ndcg_at_k]] (graded)
    and [[roc_auc]] (threshold-free). Recall's denominator is
    ``total_rel_col`` when given (a per-query constant column carrying
    the corpus-wide relevant count — the honest recall) else the
    relevant count within the ranked list itself (recall of the
    retrieved set).

    EXACT cross-engine: hits@k, the first-relevant rank and the
    denominators are BIGINT aggregates of one groupBy; every emitted
    rate is a single terminal division. Returns (group..., n_ranked,
    hits_k, total_rel, prec_k_q6, recall_k_q6, rr_q6); recall null
    when total_rel = 0, rr 0 when nothing relevant was ranked (the
    MRR convention — a query that finds nothing contributes zero, not
    null, so the mean stays honest).
    """
    r = F.col(rank_col).cast("long")
    rel = F.col(rel_col).cast("long")
    gl = list(group_cols)
    aggs = [
        F.count("*").cast("long").alias("n_ranked"),
        F.sum(F.when(r <= k, rel).otherwise(F.lit(0)))
        .cast("long")
        .alias("hits_k"),
        F.min(F.when(rel == 1, r)).alias("__first"),
    ]
    if total_rel_col is not None:
        aggs.append(
            F.max(F.col(total_rel_col)).cast("long").alias("total_rel")
        )
    else:
        aggs.append(F.sum(rel).cast("long").alias("total_rel"))
    agg = judged.groupBy(*gl).agg(*aggs)
    prec = F.col("hits_k").cast("double") / F.lit(float(k))
    rec = F.col("hits_k").cast("double") / F.col("total_rel").cast(
        "double"
    )
    rr = F.coalesce(
        F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
    )
    return agg.select(
        *gl,
        "n_ranked",
        "hits_k",
        "total_rel",
        (F.floor(prec * F.lit(1e6)) / F.lit(1e6)).alias("prec_k_q6"),
        F.when(
            F.col("total_rel") > 0,
            F.floor(rec * F.lit(1e6)) / F.lit(1e6),
        ).alias("recall_k_q6"),
        (F.floor(rr * F.lit(1e6)) / F.lit(1e6)).alias("rr_q6"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Fleiss' kappa over a LONG (item, rater, label) table — the
    k-rater generalization of [[cohens_kappa]] for nominal labels: the
    agreement metric for an LLM-labeling pipeline where every item is
    judged by the same number of raters (k >= 2) and rater IDENTITY is
    exchangeable. kappa = (P_bar - P_e) / (1 - P_e) with P_bar the mean
    within-item ordered-pair agreement and P_e the chance agreement
    from the pooled label distribution.

    EXACT cross-engine (the complete-design identity): with N items, k
    raters, per-item label counts c_iv and pooled totals T_v (T = Nk),
    agree_num = sum_i sum_v c_iv*(c_iv - 1)  [BIGINT]
    P_bar = agree_num / (N*k*(k-1)),  P_e = sum T_v^2 / T^2,
    so kappa = (T^2*agree_num - Nk(k-1)*sum T_v^2)
             / (Nk(k-1)*(T^2 - sum T_v^2)) — every term BIGINT, ONE
    terminal division. Raises on incomplete designs (unequal per-item
    rating counts make the denominators item-varying — filter or
    impute upstream; the check is a 1-row aggregate, not a collect of
    items). Returns one row (n_items, k, agree_num, kappa_q6); null
    when P_e = 1 (single label in the pool — agreement vacuous).
    """
    base = df.select(
        F.col(item_col).alias("__i"),
        F.col(rater_col).alias("__r"),
        F.col(label_col).alias("__v"),
    )
    cell = base.groupBy("__i", "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    per_item = cell.groupBy("__i").agg(
        F.sum("__c").cast("long").alias("__k"),
        F.sum(F.col("__c") * (F.col("__c") - 1))
        .cast("long")
        .alias("__agree"),
    )
    chk = per_item.agg(
        F.countDistinct("__k").alias("__kk_n"),
        F.max("__k").alias("__kmax"),
        F.min("__k").alias("__kmin"),
    ).collect()[0]
    if chk["__kk_n"] not in (0, 1):
        raise ValueError(
            "fleiss_kappa requires a complete design: per-item rating "
            f"counts vary ({chk['__kmin']}..{chk['__kmax']}) — filter "
            "to fully-rated items upstream"
        )
    items = per_item.agg(
        F.count("*").cast("long").alias("n_items"),
        F.max("__k").cast("long").alias("k"),
        F.sum("__agree").cast("long").alias("agree_num"),
    )
    pooled = base.groupBy("__v").agg(
        F.count("*").cast("long").alias("__t")
    ).agg(
        F.sum(F.col("__t") * F.col("__t")).cast("long").alias("__st2"),
        F.sum("__t").cast("long").alias("__t_tot"),
    )
    j = items.crossJoin(F.broadcast(pooled))
    t2 = F.col("__t_tot") * F.col("__t_tot")
    denom_pairs = F.col("n_items") * F.col("k") * (F.col("k") - 1)
    num = t2 * F.col("agree_num") - denom_pairs * F.col("__st2")
    den = denom_pairs * (t2 - F.col("__st2"))
    return j.select(
        "n_items",
        "k",
        "agree_num",
        F.when(
            (den > 0) & (F.col("k") > 1),
            F.floor(
                num.cast("double") / den.cast("double") * F.lit(1e6)
            )
            / F.lit(1e6),
        ).alias("kappa_q6"),
    )


def krippendorff_alpha_nominal(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) over a LONG (item, rater,
    label) table with a COMPLETE design — the agreement coefficient
    that, unlike [[fleiss_kappa]], measures chance from the
    permutation-null over the pooled values (T-1 in the denominator),
    making it the reviewer-preferred number for annotation studies.
    alpha = 1 - D_o / D_e with D_o the observed within-item
    disagreement rate and D_e the expected rate from pooled totals.

    EXACT cross-engine: with N items, k raters, T = Nk and pooled
    totals T_v, disag_num = sum_i (k*(k-1) - sum_v c_iv*(c_iv-1)),
    D_o = disag_num/(N*k*(k-1)), D_e = (T^2 - sum T_v^2)/(T*(T-1)),
    so alpha = 1 - [disag_num * T*(T-1)] / [N*k*(k-1) * (T^2 - sum
    T_v^2)] — BIGINT throughout, ONE terminal division. Same
    complete-design guard as fleiss_kappa. Returns one row (n_items,
    k, disag_num, alpha_q6); null when every pooled label is
    identical (D_e = 0 — nothing to disagree about).
    """
    base = df.select(
        F.col(item_col).alias("__i"),
        F.col(rater_col).alias("__r"),
        F.col(label_col).alias("__v"),
    )
    cell = base.groupBy("__i", "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    per_item = cell.groupBy("__i").agg(
        F.sum("__c").cast("long").alias("__k"),
        F.sum(F.col("__c") * (F.col("__c") - 1))
        .cast("long")
        .alias("__agree"),
    )
    chk = per_item.agg(
        F.countDistinct("__k").alias("__kk_n"),
        F.max("__k").alias("__kmax"),
        F.min("__k").alias("__kmin"),
    ).collect()[0]
    if chk["__kk_n"] not in (0, 1):
        raise ValueError(
            "krippendorff_alpha_nominal requires a complete design: "
            f"per-item rating counts vary ({chk['__kmin']}.."
            f"{chk['__kmax']}) — filter to fully-rated items upstream"
        )
    items = per_item.agg(
        F.count("*").cast("long").alias("n_items"),
        F.max("__k").cast("long").alias("k"),
        F.sum(
            F.col("__k") * (F.col("__k") - 1) - F.col("__agree")
        ).cast("long").alias("disag_num"),
    )
    pooled = base.groupBy("__v").agg(
        F.count("*").cast("long").alias("__t")
    ).agg(
        F.sum(F.col("__t") * F.col("__t")).cast("long").alias("__st2"),
        F.sum("__t").cast("long").alias("__t_tot"),
    )
    j = items.crossJoin(F.broadcast(pooled))
    t = F.col("__t_tot")
    de_num = t * t - F.col("__st2")
    pairs = F.col("n_items") * F.col("k") * (F.col("k") - 1)
    alpha = F.lit(1.0) - (
        (F.col("disag_num") * t * (t - 1)).cast("double")
        / (pairs * de_num).cast("double")
    )
    return j.select(
        "n_items",
        "k",
        "disag_num",
        F.when(
            (de_num > 0) & (F.col("k") > 1),
            F.floor(alpha * F.lit(1e6)) / F.lit(1e6),
        ).alias("alpha_q6"),
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    group_cols: tuple[str, ...] = (),
    alpha_permille: int = 100,
    quantize: int = 4,
) -> DataFrame:
    """Split-conformal quantile threshold per group — the
    distribution-free guarantee behind "reject when nonconformity
    exceeds q_hat, and at most alpha of future in-distribution items
    will be rejected": q_hat is the ceil((n+1)(1-alpha))-th smallest
    calibration score (Vovk; the finite-sample-valid quantile, NOT the
    plug-in percentile). The gate calibrator for an LLM quality/safety
    classifier run per stratum (language, source).

    EXACT cross-engine: alpha arrives as PERMILLE so the target rank
    r = ceil((n+1)*(1000-ap)/1000) is computed in pure integers
    (floor((x + 999)/1000) — no float boundary at the rank), and the
    selection is the integer rank-reach test over the per-(group,
    value) count table ([[calibration_bins]]' quantization; the
    window is bounded by value cardinality, not rows). When r > n the
    guarantee needs more calibration data: qhat is null and
    ``covered`` false. Returns (group..., n, rank_target, qhat_q,
    qhat, covered).
    """
    if not 0 < alpha_permille < 1000:
        raise ValueError("alpha_permille must be in (0, 1000)")
    s = F.col(score_col)
    sq = F.round(s.cast("double") * F.lit(10**quantize), 0).cast("long")
    gl = list(group_cols)
    base = df.select(*gl, sq.alias("__v")).filter(F.col("__v").isNotNull())
    cnt = base.groupBy(*gl, "__v").agg(
        F.count("*").cast("long").alias("__c")
    )
    wb = Window.partitionBy(*gl).orderBy("__v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = cnt.select(
        *gl,
        "__v",
        "__c",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__cb"),
        F.sum("__c").over(Window.partitionBy(*gl)).alias("__n"),
    )
    r = F.floor(
        ((F.col("__n") + 1) * (1000 - alpha_permille) + 999) / 1000
    ).cast("long")
    hit = (F.col("__cb") < r) & (F.col("__cb") + F.col("__c") >= r)
    out = ranked.groupBy(*gl).agg(
        F.max("__n").alias("n"),
        F.max(r).alias("rank_target"),
        F.sum(F.when(hit, F.col("__v"))).alias("qhat_q"),
    )
    return out.select(
        *gl,
        "n",
        "rank_target",
        "qhat_q",
        (
            F.col("qhat_q").cast("double") / F.lit(float(10**quantize))
        ).alias("qhat"),
        (F.col("rank_target") <= F.col("n")).alias("covered"),
    )


def risk_coverage_curve(
    df: DataFrame,
    confidence_col: str,
    error_col: str,
    quantize: int = 4,
) -> DataFrame:
    """Risk-coverage curve for selective prediction — answer "if the
    model only acts on its most-confident X%, what error rate does it
    eat": sweep the confidence threshold down through every distinct
    value; at each operating point emit how much is covered and the
    cumulative error rate on the covered set. The curve behind every
    abstention/escalation policy (route low-confidence items to a
    bigger model or a human).

    EXACT cross-engine: one count table per distinct quantized
    confidence (n, errors — both BIGINT), one DESCENDING running sum
    over it (window bounded by value cardinality), terminal divisions
    only. Returns one row per distinct confidence value:
    (conf_q, n_at, err_at, n_cum, err_cum, coverage_q6, risk_q6),
    ordered operating points from strictest to loosest.
    """
    c = F.col(confidence_col)
    e = F.col(error_col).cast("long")
    cq = F.round(c.cast("double") * F.lit(10**quantize), 0).cast("long")
    base = df.select(cq.alias("conf_q"), e.alias("__e")).filter(
        F.col("conf_q").isNotNull() & F.col("__e").isNotNull()
    )
    cnt = base.groupBy("conf_q").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("__e").cast("long").alias("err_at"),
    )
    wdesc = Window.orderBy(F.col("conf_q").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cnt.select(
        "conf_q",
        "n_at",
        "err_at",
        F.sum("n_at").over(wdesc).cast("long").alias("n_cum"),
        F.sum("err_at").over(wdesc).cast("long").alias("err_cum"),
        F.sum("n_at").over(tot).cast("long").alias("__nn"),
    )
    return cum.select(
        "conf_q",
        "n_at",
        "err_at",
        "n_cum",
        "err_cum",
        (
            F.floor(
                F.col("n_cum").cast("double")
                / F.col("__nn").cast("double")
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("coverage_q6"),
        (
            F.floor(
                F.col("err_cum").cast("double")
                / F.col("n_cum").cast("double")
                * F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("risk_q6"),
    )


def naive_bayes_train(
    docs: DataFrame,
    tokens_col: str,
    label_col: str,
    alpha: float = 1.0,
    quantize: int = 6,
    min_df: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """Multinomial Naive Bayes trainer over a tokenized corpus — the
    classic one-pass generative text classifier ([[logreg_train]] is
    the discriminative iterative sibling; [[hash_classifier]] the
    featureless-hash strawman). Token log-likelihoods lp(w|l) =
    ln((c_lw + a) / (T_l + a*V)) with Laplace smoothing, plus the
    per-label OOV default and ln prior.

    DETERMINISM contract (the TF-IDF APSS lesson): every log-prob is
    floor-quantized to integer 1e-``quantize`` units at TRAIN time, so
    prediction-time scores are INTEGER sums — immune to float add
    order across partitions, exactly reproducible in the DuckDB twin.
    ln() itself is within 1 ulp across libm implementations; a flip at
    the floor boundary needs the true value within ~1e-16 of a 1e-6
    grid line (checked at two SFs by the oracle sweep).

    Plan: token counts = one (label, word) map-combinable groupBy;
    vocab size + label totals are 1-row/k-row broadcast aggregates.
    Returns (word_model, label_model): (word, label, lp_q) and
    (label, prior_q, oov_q) — both bounded by vocab x k, the
    broadcast-able model the predict side wants.

    100-TB bound: the word model must fit the predict side's
    broadcast. A web-scale vocabulary doesn't — raise ``min_df`` to
    prune tokens occurring fewer than that many times ACROSS the
    corpus; pruned tokens score as unseen (the per-label OOV mass) at
    predict time, and the smoothing denominator keeps the FULL vocab
    size so retained probabilities are unchanged. The long Zipf tail
    carries little class signal; the head model stays broadcast-sized.
    """
    toks = docs.select(
        F.col(label_col).alias("label"),
        F.explode(F.col(tokens_col)).alias("word"),
    ).filter(F.col("label").isNotNull() & F.col("word").isNotNull())
    lw = toks.groupBy("label", "word").agg(
        F.count("*").cast("long").alias("__c")
    )
    if int(min_df) > 1:
        keep = (
            lw.groupBy("word")
            .agg(F.sum("__c").alias("__wt"))
            .filter(F.col("__wt") >= int(min_df))
            .select("word")
        )
        lw = lw.join(keep, "word")
    lab_tot = toks.groupBy("label").agg(
        F.count("*").cast("long").alias("__t")
    )
    vocab = F.broadcast(
        toks.select("word").distinct().agg(F.count("*").alias("__v"))
    )
    doc_n = (
        docs.select(F.col(label_col).alias("label"))
        .filter(F.col("label").isNotNull())
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("__dn"))
    )
    ndocs = F.broadcast(doc_n.agg(F.sum("__dn").alias("__d")))
    unit = float(10 ** quantize)
    a = float(alpha)

    def _q(col):
        return F.floor(col * F.lit(unit)).cast("long")

    denom = F.col("__t").cast("double") + F.lit(a) * F.col("__v").cast(
        "double"
    )
    word_model = (
        lw.join(F.broadcast(lab_tot), "label")
        .crossJoin(vocab)
        .select(
            "word",
            "label",
            _q(
                F.log(
                    (F.col("__c").cast("double") + F.lit(a)) / denom
                )
            ).alias("lp_q"),
        )
    )
    label_model = (
        lab_tot.crossJoin(vocab)
        .join(doc_n, "label")
        .crossJoin(ndocs)
        .select(
            "label",
            _q(
                F.log(
                    F.col("__dn").cast("double")
                    / F.col("__d").cast("double")
                )
            ).alias("prior_q"),
            _q(F.log(F.lit(a) / denom)).alias("oov_q"),
        )
    )
    return word_model, label_model


def naive_bayes_predict(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    word_model: DataFrame,
    label_model: DataFrame,
) -> DataFrame:
    """Score every document against every label and emit the argmax.
    Each token occurrence fans out to the k labels (broadcast label
    table), left-joins the broadcast word model (vocab x k rows —
    bounded, the [[naive_bayes_train]] contract), falls back to the
    label's OOV mass, and one (doc, label) integer-sum aggregate +
    per-doc max_by finishes it. Integer scores -> the argmax (with
    lexicographic label tie-break) is deterministic across partitions
    and engines. Returns (id, pred, score_q)."""
    occ = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.col(tokens_col)).alias("word"),
    )
    fan = occ.crossJoin(
        F.broadcast(label_model.select("label", "prior_q", "oov_q"))
    )
    scored = (
        fan.join(F.broadcast(word_model), ["word", "label"], "left")
        .groupBy("id", "label")
        .agg(
            (
                F.sum(F.coalesce(F.col("lp_q"), F.col("oov_q")))
                + F.max("prior_q")
            ).alias("score_q")
        )
    )
    # argmax with smallest-label-on-tie: min over (negated score,
    # label) struct ordering — one aggregate, no window
    best = scored.groupBy("id").agg(
        F.min(
            F.struct((-F.col("score_q")).alias("ns"), F.col("label"))
        ).alias("__b")
    )
    return best.select(
        "id",
        F.col("__b.label").alias("pred"),
        (-F.col("__b.ns")).alias("score_q"),
    )


def off_policy_value(
    df: DataFrame,
    action_col: str,
    target_col: str,
    prop_tenths_col: str,
    reward_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Off-policy evaluation of a deterministic target policy from
    logged bandit feedback: IPS (inverse-propensity scoring) and SNIPS
    (self-normalized IPS) value estimates plus the effective sample
    size — "what WOULD this routing/ranking policy have earned on the
    traffic we actually logged", without running it. The pipeline
    read: compare a candidate curation/serving policy against logged
    propensity-scored choices before an A/B.

    Propensity contract: ``prop_tenths_col`` holds the logged
    propensity as INTEGER TENTHS k in 1..9 (p = k/10) — the discrete
    grid a logging system snapshots. That makes every importance
    weight the exact rational 10/k, so weights are accumulated in
    integer 1/2520-units (25200/k is integral for every k) and both
    sums are EXACT integers: the float division happens once per
    output column. Immune to partition sum order; bit-reproducible in
    the DuckDB twin.

    IPS = (S/2520)/n, SNIPS = S/W, ESS = W^2 / sum(w^2) — S, W, W2
    accumulated as DECIMAL(38,0) off ONE map-combinable aggregate.
    Returns (n, n_match, ips_q6, snips_q6, ess_q6); snips null when no
    logged action matches the target policy.
    """
    r = F.round(
        F.col(reward_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    match = (F.col(action_col) == F.col(target_col)).cast("int")
    k = F.col(prop_tenths_col).cast("long")
    w_u = (F.lit(25200) / k).cast("long")  # exact: k | 25200 for 1..9
    dec = "decimal(38,0)"
    base = df.select(
        r.alias("__r"), match.alias("__m"), w_u.alias("__w")
    ).filter(F.col("__r").isNotNull())
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__m").cast("long").alias("n_match"),
        F.sum((F.col("__m") * F.col("__w")).cast(dec)).alias("__ww"),
        F.sum(
            (F.col("__m") * F.col("__w")).cast(dec)
            * F.col("__r").cast(dec)
        ).alias("__s"),
        F.sum(
            (F.col("__m") * F.col("__w")).cast(dec)
            * (F.col("__m") * F.col("__w")).cast(dec)
        ).alias("__w2"),
    )
    scale = float(10 ** quantize)
    nn = F.col("n").cast("double")
    s = F.col("__s").cast("double")
    ww = F.col("__ww").cast("double")
    w2 = F.col("__w2").cast("double")
    ips = s / F.lit(2520.0) / nn / F.lit(scale)
    snips = F.try_divide(s, ww) / F.lit(scale)
    ess = F.try_divide(ww * ww, w2)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n",
        "n_match",
        q6(ips).alias("ips_q6"),
        F.when(F.col("n_match") > 0, q6(snips)).alias("snips_q6"),
        F.when(F.col("n_match") > 0, q6(ess)).alias("ess_q6"),
    )


def partition_agreement(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Agreement between two labelings/partitions of the same rows —
    Adjusted Rand Index, normalized mutual information, and the
    V-measure pair (homogeneity / completeness): the clustering-
    evaluation battery for "does my dedup/kmeans/topic assignment
    recover the known classes" ([[cohens_kappa]] needs ALIGNED label
    vocabularies; these are label-permutation-invariant, which is what
    cluster ids require).

    ARI is INTEGER-EXACT until one float assembly: every term is a
    sum of pair-counts C(x,2) = x(x-1)/2 over the contingency table
    or a margin table — DECIMAL(38,0) sums (exact, order-free), no
    float accumulations. The three entropies reuse the fixed-key-order
    stepped-sum discipline over the contingency table. Plan: one (a, b)
    count shuffle; margins are two further map-combinable aggregates of it;
    windows bounded by label-cardinality product. Returns one row
    (n, ari_q6, nmi_q6, homogeneity_q6, completeness_q6, v_q6);
    normalized scores null when the relevant entropy (or the ARI
    denominator) is 0.
    """
    from pyspark.sql import Window

    base = df.select(
        F.col(a_col).alias("__a"), F.col(b_col).alias("__b")
    ).filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
    ab = base.groupBy("__a", "__b").agg(
        F.count("*").cast("long").alias("__c")
    )
    dec = "decimal(38,0)"

    def choose2_sum(counts, col):
        # DOUBLED pair counts: sum x(x-1) in exact DECIMAL (decimal
        # DIVISION semantics differ between engines, so the single /2
        # happens once, in float, at assembly)
        return counts.agg(
            F.sum(
                F.col(col).cast(dec) * (F.col(col) - 1).cast(dec)
            ).alias("__s")
        )
    ma = ab.groupBy("__a").agg(F.sum("__c").cast("long").alias("__ca"))
    mb = ab.groupBy("__b").agg(F.sum("__c").cast("long").alias("__cb"))
    sa = F.broadcast(
        choose2_sum(ma, "__ca").select(F.col("__s").alias("__sa"))
    )
    sb = F.broadcast(
        choose2_sum(mb, "__cb").select(F.col("__s").alias("__sb"))
    )
    idxr = F.broadcast(
        choose2_sum(ab, "__c").select(F.col("__s").alias("__idx"))
    )
    tot = F.broadcast(ab.agg(F.sum("__c").cast("long").alias("__n")))
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    cells = ab.select(
        "__a",
        "__b",
        "__c",
        F.sum("__c").over(wa).alias("__cma"),
        F.sum("__c").over(wb).alias("__cmb"),
    ).crossJoin(tot)
    nn = F.col("__n").cast("double")
    t_hab = (
        F.col("__c").cast("double")
        / nn
        * F.log(nn / F.col("__c").cast("double"))
    )
    t_ha_b = (
        F.col("__c").cast("double")
        / nn
        * F.log(F.col("__cmb").cast("double") / F.col("__c").cast("double"))
    )
    t_hb_a = (
        F.col("__c").cast("double")
        / nn
        * F.log(F.col("__cma").cast("double") / F.col("__c").cast("double"))
    )
    ordw = Window.orderBy("__a", "__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fullw = Window.orderBy("__a", "__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = cells.select(
        "__n",
        F.sum(t_hab).over(ordw).alias("__hab"),
        F.sum(t_ha_b).over(ordw).alias("__hagb"),
        F.sum(t_hb_a).over(ordw).alias("__hbga"),
        F.row_number().over(Window.orderBy("__a", "__b")).alias("__rn"),
        F.count("*").over(fullw).alias("__k"),
    )
    last = (
        stepped.filter(F.col("__rn") == F.col("__k"))
        .crossJoin(sa)
        .crossJoin(sb)
        .crossJoin(idxr)
    )
    idx = F.col("__idx").cast("double") / F.lit(2.0)
    sav = F.col("__sa").cast("double") / F.lit(2.0)
    sbv = F.col("__sb").cast("double") / F.lit(2.0)
    cn2 = nn * (nn - F.lit(1.0)) / F.lit(2.0)
    exp = sav * sbv / cn2
    mx = (sav + sbv) / F.lit(2.0)
    ari = F.try_divide(idx - exp, mx - exp)
    # H(A) = H(A,B) - H(B|A); H(B) = H(A,B) - H(A|B); I = H(A) - H(A|B)
    ha = F.col("__hab") - F.col("__hbga")
    hb = F.col("__hab") - F.col("__hagb")
    mi = ha - F.col("__hagb")
    nmi = F.try_divide(mi, F.sqrt(ha * hb))
    hom = F.lit(1.0) - F.try_divide(F.col("__hagb"), ha)
    com = F.lit(1.0) - F.try_divide(F.col("__hbga"), hb)
    v = F.try_divide(F.lit(2.0) * hom * com, hom + com)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        F.col("__n").alias("n"),
        F.when((mx - exp) != 0, q6(ari)).alias("ari_q6"),
        F.when((ha > 0) & (hb > 0), q6(nmi)).alias("nmi_q6"),
        F.when(ha > 0, q6(hom)).alias("homogeneity_q6"),
        F.when(hb > 0, q6(com)).alias("completeness_q6"),
        F.when(
            (ha > 0) & (hb > 0) & ((hom + com) > 0), q6(v)
        ).alias("v_q6"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    group_cols: tuple = (),
) -> DataFrame:
    """Average precision (area under the precision-recall curve by the
    step rule) per group — the threshold-free metric that, unlike
    [[roc_auc]], collapses under class imbalance exactly the way a
    curation gate experiences it: AP = sum over positives of
    precision@rank / n_pos. The repo's ranked-retrieval metrics
    ([[retrieval_metrics]]) take a FIXED k; AP integrates over all of
    them.

    Determinism contract: ranking is (score desc, id asc) — the id
    tiebreak pins tied-score order on BOTH engines (same convention as
    the BM25 ranking), so the running precision values are exact
    rationals cum_pos/rank and the float sum accumulates in pinned
    rank order via the running window. One exchange per group; the
    per-group sort is the same cost as [[roc_auc]]'s rank window.
    Returns (group..., n_pos, n_neg, ap_q6); null when a group has no
    positives.
    """
    s = F.col(score_col)
    y = F.col(label_col).cast("int")
    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy(
        s.desc(), F.col(id_col).asc()
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = df.select(
        *gcols,
        y.alias("__y"),
        F.row_number().over(w).alias("__r"),
        F.sum(y).over(wrun).alias("__cp"),
    )
    term = F.when(
        F.col("__y") == 1,
        F.col("__cp").cast("double") / F.col("__r").cast("double"),
    ).otherwise(F.lit(0.0))
    # fixed-order accumulation: running sum over the SAME rank window,
    # take the last row per group
    wfull = Window.partitionBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wordr = Window.partitionBy(*gcols).orderBy("__r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    stepped = ranked.select(
        *gcols,
        F.sum(term).over(wordr).alias("__ap_s"),
        F.sum("__y").over(wfull).alias("n_pos"),
        (F.count("*").over(wfull) - F.sum("__y").over(wfull)).alias(
            "n_neg"
        ),
        F.col("__r"),
        F.count("*").over(wfull).alias("__n"),
    )
    last = stepped.filter(F.col("__r") == F.col("__n"))
    ap = F.try_divide(
        F.col("__ap_s"), F.col("n_pos").cast("double")
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        *gcols,
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        F.when(F.col("n_pos") > 0, q6(ap)).alias("ap_q6"),
    )


def best_f1_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: int = 4,
    group_cols: tuple = (),
) -> DataFrame:
    """Best-F1 operating point per group: sweep EVERY distinct score
    as the >=-threshold, compute (tp, fp, fn) from cumulative counts,
    and return the threshold maximizing F1 (ties -> highest
    threshold, i.e. the more conservative gate). The companion to
    [[calibration_bins]]: calibration tells you the score MEANS
    something; this tells you where to CUT it.

    All counts integer off one (score -> pos/neg count) shuffle with
    cumulative windows over the distinct-score table (bounded by
    score cardinality — scores are quantized to ``10^-quantize``
    first, which is also what makes the threshold reportable). The
    F1 comparison is done on exact integer cross-products (f1a > f1b
    <=> 2*tp_a*(denom_b) > 2*tp_b*(denom_a)... equivalently compare
    the rational 2tp/(2tp+fp+fn) via struct max on the
    floor-quantized value with threshold tiebreak; a q12 grid makes a
    tie at the grid line share the tiebreak deterministically).
    Returns (group..., threshold, tp, fp, fn, f1_q6).
    """
    from .curate import _quant

    sq = _quant(F.col(score_col), quantize)
    y = F.col(label_col).cast("int")
    gcols = list(group_cols)
    base = df.select(*gcols, sq.alias("__s"), y.alias("__y")).filter(
        F.col("__s").isNotNull() & F.col("__y").isNotNull()
    )
    per = base.groupBy(*gcols, "__s").agg(
        F.sum("__y").cast("long").alias("__p"),
        F.sum(1 - F.col("__y")).cast("long").alias("__q"),
    )
    wdesc = Window.partitionBy(*gcols).orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.partitionBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        *gcols,
        "__s",
        F.sum("__p").over(wdesc).alias("__tp"),
        F.sum("__q").over(wdesc).alias("__fp"),
        (F.sum("__p").over(wfull) - F.sum("__p").over(wdesc)).alias(
            "__fn"
        ),
    )
    f1 = F.try_divide(
        (2 * F.col("__tp")).cast("double"),
        (2 * F.col("__tp") + F.col("__fp") + F.col("__fn")).cast(
            "double"
        ),
    )
    f1q = F.floor(f1 * F.lit(1e12)).cast("long")
    best = cum.select(
        *gcols,
        F.struct(
            f1q.alias("f1q"),
            F.col("__s").alias("s"),
            F.col("__tp").alias("tp"),
            F.col("__fp").alias("fp"),
            F.col("__fn").alias("fn"),
        ).alias("__cand"),
    ).groupBy(*gcols).agg(F.max("__cand").alias("__b"))
    scale = float(10 ** quantize)
    return best.select(
        *gcols,
        (F.col("__b.s").cast("double") / F.lit(scale)).alias("threshold"),
        F.col("__b.tp").alias("tp"),
        F.col("__b.fp").alias("fp"),
        F.col("__b.fn").alias("fn"),
        (
            F.floor(
                F.col("__b.f1q").cast("double") / F.lit(1e6)
            )
            / F.lit(1e6)
        ).alias("f1_q6"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    lo: float = -1.0,
    hi: float = 1.0,
) -> DataFrame:
    """Expected / maximum calibration error over the
    [[calibration_bins]] reliability diagram: ECE = sum_b (n_b / N) *
    |pos_rate_b - mean_score_b|, MCE = max_b of the same gap — the
    one-number summary the per-bin table leaves to the reader. A
    quality classifier gating 100 TB needs its scores to MEAN
    something; ECE is the number that says so.

    The per-bin gap uses the bins' exact integer statistics
    (pos_rate = n_pos/n exact rational, mean_score from the BIGINT
    4dp score sum), and the weighted sum accumulates in FIXED bin
    order over the <= n_bins-row table. Returns one row
    (n, n_bins_used, ece_q6, mce_q6).
    """
    from pyspark.sql import Window

    bins = calibration_bins(df, score_col, label_col, n_bins, lo, hi)
    tot = F.broadcast(bins.agg(F.sum("n").cast("long").alias("__N")))
    gap = F.abs(F.col("pos_rate") - F.col("mean_score"))
    term = F.col("n").cast("double") / F.col("__N").cast("double") * gap
    ordw = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fullw = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = bins.crossJoin(tot).select(
        "__N",
        F.sum(term).over(ordw).alias("__ece"),
        F.max(gap).over(fullw).alias("__mce"),
        F.row_number().over(Window.orderBy("bin")).alias("__rn"),
        F.count("*").over(fullw).alias("__k"),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return stepped.filter(F.col("__rn") == F.col("__k")).select(
        F.col("__N").alias("n"),
        F.col("__k").cast("long").alias("n_bins_used"),
        q6(F.col("__ece")).alias("ece_q6"),
        q6(F.col("__mce")).alias("mce_q6"),
    )


def fairness_gaps(
    df: DataFrame,
    pred_col,
    label_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group classifier fairness audit: selection rate
    (demographic parity), TPR and FPR per group, plus each metric's
    max pairwise gap across groups — the equalized-odds /
    demographic-parity numbers a model gate publishes next to its
    accuracy. The audit that catches "the quality classifier passes
    90% of source A but 40% of source B".

    Exact integer confusion cells per group off ONE conditional
    aggregate ([[confusion_counts]] with rates); each rate is one
    exact division, and the gaps are max - min over the k-row group
    table (order-free on exact rationals... comparisons only, no float
    sums). Returns one row per group plus the gap columns repeated
    (self-describing audit table): (group, n, sel_rate_q6, tpr_q6,
    fpr_q6, sel_gap_q6, tpr_gap_q6, fpr_gap_q6); per-group rates null
    when undefined (no positives / no negatives), and null rates are
    excluded from their gap.
    """
    p = (F.col(pred_col) if isinstance(pred_col, str) else pred_col).cast(
        "boolean"
    )
    y = F.col(label_col).cast("int")
    pp, yy = F.col("__p"), F.col("__y")
    per = df.select(
        F.col(group_col).alias("group"), p.alias("__p"), y.alias("__y")
    ).groupBy("group").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(pp & (yy == 1), 1).otherwise(0))
        .cast("long")
        .alias("__tp"),
        F.sum(F.when(pp & (yy == 0), 1).otherwise(0))
        .cast("long")
        .alias("__fp"),
        F.sum(F.when((~pp) & (yy == 1), 1).otherwise(0))
        .cast("long")
        .alias("__fn"),
        F.sum(F.when((~pp) & (yy == 0), 1).otherwise(0))
        .cast("long")
        .alias("__tn"),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    sel = q6(
        (F.col("__tp") + F.col("__fp")).cast("double")
        / F.col("n").cast("double")
    )
    tpr = F.when(
        (F.col("__tp") + F.col("__fn")) > 0,
        q6(
            F.col("__tp").cast("double")
            / (F.col("__tp") + F.col("__fn")).cast("double")
        ),
    )
    fpr = F.when(
        (F.col("__fp") + F.col("__tn")) > 0,
        q6(
            F.col("__fp").cast("double")
            / (F.col("__fp") + F.col("__tn")).cast("double")
        ),
    )
    rates = per.select(
        "group",
        "n",
        sel.alias("sel_rate_q6"),
        tpr.alias("tpr_q6"),
        fpr.alias("fpr_q6"),
    )
    from pyspark.sql import Window

    full = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return rates.select(
        "group",
        "n",
        "sel_rate_q6",
        "tpr_q6",
        "fpr_q6",
        (
            F.max("sel_rate_q6").over(full)
            - F.min("sel_rate_q6").over(full)
        ).alias("sel_gap_q6"),
        (F.max("tpr_q6").over(full) - F.min("tpr_q6").over(full)).alias(
            "tpr_gap_q6"
        ),
        (F.max("fpr_q6").over(full) - F.min("fpr_q6").over(full)).alias(
            "fpr_gap_q6"
        ),
    )


def rank_metrics_at_k(
    ranked: DataFrame,
    rel_col: str = "rel",
    rank_col: str = "rank",
    group_cols: tuple = ("query_id",),
    k: int = 10,
    gmax: int = 1,
) -> DataFrame:
    """The retrieval metric card [[ndcg_at_k]] doesn't cover:
    precision@k, recall@k, MRR and the cascade-model ERR per query
    over a ranked judged table ``(group..., rank, rel)``.

    ERR (Chapelle et al.) needs a PREFIX PRODUCT of continue
    probabilities — the one retrieval metric a plain windowed SUM
    can't give. Both it and the other three are computed as a single
    sequential fold over the rank-sorted result list (``F.aggregate``
    over ``sort_array(collect_list(...))``), so every float op is
    order-pinned: acc = (p, err); err += p * R_r/r; p *= (1 - R_r),
    with R = (2^rel - 1)/2^gmax. Recall's denominator is the
    relevant count in the WHOLE judged table for the query (not just
    the top k). Result lists are <= a few hundred rows per query by
    construction — the corpus never enters a collect_list. One
    group-key shuffle. Returns (group..., n_ranked, n_rel_total,
    p_at_k_q6, recall_at_k_q6, mrr_q6, err_q6).
    """
    gcols = list(group_cols)
    r = F.col(rank_col).cast("int")
    rel = F.col(rel_col).cast("long")
    denom = float(2 ** gmax)
    base = ranked.select(
        *gcols,
        r.alias("__rank"),
        rel.alias("__rel"),
        (
            (F.pow(F.lit(2.0), rel.cast("double")) - F.lit(1.0))
            / F.lit(denom)
        ).alias("__bigr"),
    )
    agg = base.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("n_ranked"),
        F.sum((F.col("__rel") > 0).cast("long"))
        .cast("long")
        .alias("n_rel_total"),
        F.sum(
            ((F.col("__rel") > 0) & (F.col("__rank") <= k)).cast("long")
        )
        .cast("long")
        .alias("__rel_at_k"),
        F.min(
            F.when(F.col("__rel") > 0, F.col("__rank"))
        ).alias("__first_rel"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("__rank") <= k,
                    F.struct(
                        F.col("__rank").alias("rank"),
                        (F.lit(1.0) - F.col("__bigr")).alias("om"),
                        (
                            F.col("__bigr")
                            / F.col("__rank").cast("double")
                        ).alias("rr"),
                    ),
                )
            )
        ).alias("__terms"),
    )
    folded = F.aggregate(
        F.col("__terms"),
        F.struct(
            F.lit(1.0).alias("p"), F.lit(0.0).alias("err")
        ),
        lambda acc, t: F.struct(
            (acc["p"] * t["om"]).alias("p"),
            (acc["err"] + acc["p"] * t["rr"]).alias("err"),
        ),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *gcols,
        "n_ranked",
        "n_rel_total",
        q6(
            F.col("__rel_at_k").cast("double") / F.lit(float(k))
        ).alias("p_at_k_q6"),
        F.when(
            F.col("n_rel_total") > 0,
            q6(
                F.col("__rel_at_k").cast("double")
                / F.col("n_rel_total").cast("double")
            ),
        ).alias("recall_at_k_q6"),
        F.when(
            F.col("__first_rel").isNotNull(),
            q6(
                F.lit(1.0) / F.col("__first_rel").cast("double")
            ),
        ).alias("mrr_q6"),
        q6(folded["err"]).alias("err_q6"),
    )


def doubly_robust_value(
    df: DataFrame,
    action_col: str,
    target_col: str,
    prop_tenths_col: str,
    reward_col: str,
    qhat_col: str,
    quantize: int = 2,
) -> DataFrame:
    """Doubly-robust off-policy estimate: DR = mean( qhat + m * w *
    (r - qhat) ) — the estimator that stays consistent if EITHER the
    propensities or the outcome model ``qhat_col`` (the model's
    predicted reward for the TARGET action, supplied by the caller)
    is right, and strictly lower-variance than [[off_policy_value]]'s
    IPS when the model has any signal. Also emits the direct-method
    mean (pure model) so the reader sees both ends of the bias-
    variance dial.

    Same propensity contract as off_policy_value (integer tenths k,
    w = 10/k): with r and qhat integer-quantized, 2520*DR_i =
    2520*qhat_i + m_i * (25200/k_i) * (r_i - qhat_i) is an exact
    integer, summed in DECIMAL(38,0) — ONE map-combinable aggregate,
    terminal division only. Returns (n, n_match, dm_q6, dr_q6).
    """
    scale = float(10 ** quantize)
    r = F.round(
        F.col(reward_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    qh = F.round(
        F.col(qhat_col).cast("double") * F.lit(10 ** quantize), 0
    ).cast("long")
    match = (F.col(action_col) == F.col(target_col)).cast("long")
    k = F.col(prop_tenths_col).cast("long")
    w_u = (F.lit(25200) / k).cast("long")
    dec = "decimal(38,0)"
    base = df.select(
        r.alias("__r"),
        qh.alias("__q"),
        match.alias("__m"),
        w_u.alias("__w"),
    ).filter(F.col("__r").isNotNull() & F.col("__q").isNotNull())
    unit = (
        F.lit(2520) * F.col("__q")
        + F.col("__m") * F.col("__w") * (F.col("__r") - F.col("__q"))
    )
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__m").cast("long").alias("n_match"),
        F.sum(F.col("__q").cast(dec)).alias("__sq"),
        F.sum(unit.cast(dec)).alias("__s"),
    )
    n = F.col("n").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n",
        "n_match",
        q6(
            F.col("__sq").cast("double") / n / F.lit(scale)
        ).alias("dm_q6"),
        q6(
            F.col("__s").cast("double")
            / (F.lit(2520.0) * n)
            / F.lit(scale)
        ).alias("dr_q6"),
    )


def lift_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    id_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Decile lift/gains table — the deployment-facing classifier
    read [[roc_auc]] abstracts away: rank by score, cut into
    ``n_buckets`` equal-count buckets, and report each bucket's
    positive rate, lift over base rate, and the CUMULATIVE gain
    ("top 20% of scores capture X% of positives") — the table that
    decides how deep a review/curation queue should go.

    Determinism: the rank order is (score desc, id asc) — the id
    tie-break makes ntile assignment identical cross-engine even on
    heavily tied scores. Every emitted number is an exact rational
    of BIGINT counts; the cumulative columns are integer prefix sums
    over the n_buckets-row table. ONE global-sort exchange (ntile
    needs the total order — at 100 TB pre-aggregate to a score
    histogram first and cut that instead). Returns (bucket, n,
    n_pos, rate_q6, lift_q6, cum_gain_q6, cum_lift_q6).
    """
    w = Window.orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = df.select(
        F.col(label_col).cast("long").alias("__y"),
        F.ntile(n_buckets).over(w).alias("bucket"),
    )
    per = ranked.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
    )
    ordw = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        "bucket",
        "n",
        "n_pos",
        F.sum("n").over(ordw).cast("long").alias("__cn"),
        F.sum("n_pos").over(ordw).cast("long").alias("__cp"),
        F.sum("n").over(wfull).cast("long").alias("__nt"),
        F.sum("n_pos").over(wfull).cast("long").alias("__pt"),
    )
    base = F.col("__pt").cast("double") / F.col("__nt").cast("double")
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    crate = F.col("__cp").cast("double") / F.col("__cn").cast("double")
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return cum.select(
        "bucket",
        "n",
        "n_pos",
        q6(rate).alias("rate_q6"),
        F.when(F.col("__pt") > 0, q6(rate / base)).alias("lift_q6"),
        F.when(
            F.col("__pt") > 0,
            q6(
                F.col("__cp").cast("double")
                / F.col("__pt").cast("double")
            ),
        ).alias("cum_gain_q6"),
        F.when(F.col("__pt") > 0, q6(crate / base)).alias(
            "cum_lift_q6"
        ),
    )


def ppv_npv_at_prevalence(
    df: DataFrame,
    pred_col,
    label_col: str,
    prevalences: tuple = (1, 5, 10, 50),
) -> DataFrame:
    """Operating-point card: sensitivity/specificity from the
    confusion counts, then Bayes-corrected PPV/NPV at each DESIGN
    prevalence (given in percent) — the number that stops a "99%
    accurate" contamination detector being deployed on a 0.1%-base-
    rate corpus where most alerts would be false. PPV = se*p /
    (se*p + (1-sp)(1-p)); NPV analogous.

    The confusion cells are ONE combinable aggregate; each (cell,
    prevalence) row is a fixed rational expression. Returns
    (prev_pct, se_q6, sp_q6, ppv_q6, npv_q6) — one row per requested
    prevalence.
    """
    pred = (
        pred_col if not isinstance(pred_col, str) else F.col(pred_col)
    ).cast("boolean")
    y = F.col(label_col).cast("long")
    agg = df.agg(
        F.sum(((y == 1) & pred).cast("long")).cast("long").alias("tp"),
        F.sum(((y == 1) & ~pred).cast("long")).cast("long").alias("fn"),
        F.sum(((y == 0) & pred).cast("long")).cast("long").alias("fp"),
        F.sum(((y == 0) & ~pred).cast("long")).cast("long").alias("tn"),
    )
    pr = F.explode(
        F.array(*[F.lit(int(p)) for p in prevalences])
    ).alias("prev_pct")
    rows = agg.select("tp", "fn", "fp", "tn", pr)
    se = F.col("tp").cast("double") / (
        F.col("tp") + F.col("fn")
    ).cast("double")
    sp = F.col("tn").cast("double") / (
        F.col("tn") + F.col("fp")
    ).cast("double")
    p = F.col("prev_pct").cast("double") / F.lit(100.0)
    ppv = se * p / (se * p + (F.lit(1.0) - sp) * (F.lit(1.0) - p))
    npv = (
        sp
        * (F.lit(1.0) - p)
        / (sp * (F.lit(1.0) - p) + (F.lit(1.0) - se) * p)
    )
    ok = ((F.col("tp") + F.col("fn")) > 0) & (
        (F.col("tn") + F.col("fp")) > 0
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return rows.select(
        "prev_pct",
        F.when(ok, q6(se)).alias("se_q6"),
        F.when(ok, q6(sp)).alias("sp_q6"),
        F.when(ok, q6(ppv)).alias("ppv_q6"),
        F.when(ok, q6(npv)).alias("npv_q6"),
    )


def youden_j_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    quantize: int = 4,
    group_cols: tuple = (),
) -> DataFrame:
    """Youden-J operating point per group: sweep every distinct score
    as the >=-threshold and return the one maximizing
    J = TPR - FPR = tp/P - fp/N — the cut that weighs the two error
    rates equally regardless of prevalence, where [[best_f1_threshold]]
    optimizes the precision/recall tradeoff (prevalence-sensitive).
    Report both cards side by side: a big gap between the two
    thresholds IS the class-imbalance warning.

    Same machinery as [[best_f1_threshold]]: one (score -> pos/neg
    count) shuffle, cumulative windows over the distinct-score table
    (bounded by score cardinality after 10^-quantize quantization),
    deterministic argmax via struct max on the floor-q12 J with
    highest-threshold ties. Returns (group..., threshold, tp, fp, fn,
    tn, j_q6, tpr_q6, fpr_q6).
    """
    from .curate import _quant

    sq = _quant(F.col(score_col), quantize)
    y = F.col(label_col).cast("int")
    gcols = list(group_cols)
    base = df.select(*gcols, sq.alias("__s"), y.alias("__y")).filter(
        F.col("__s").isNotNull() & F.col("__y").isNotNull()
    )
    per = base.groupBy(*gcols, "__s").agg(
        F.sum("__y").cast("long").alias("__p"),
        F.sum(1 - F.col("__y")).cast("long").alias("__q"),
    )
    wdesc = Window.partitionBy(*gcols).orderBy(F.desc("__s")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.partitionBy(*gcols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per.select(
        *gcols,
        "__s",
        F.sum("__p").over(wdesc).alias("__tp"),
        F.sum("__q").over(wdesc).alias("__fp"),
        F.sum("__p").over(wfull).alias("__pos"),
        F.sum("__q").over(wfull).alias("__neg"),
    )
    j = F.try_divide(
        F.col("__tp").cast("double"), F.col("__pos").cast("double")
    ) - F.try_divide(
        F.col("__fp").cast("double"), F.col("__neg").cast("double")
    )
    jq = F.floor(j * F.lit(1e12)).cast("long")
    best = cum.select(
        *gcols,
        F.struct(
            jq.alias("jq"),
            F.col("__s").alias("s"),
            F.col("__tp").alias("tp"),
            F.col("__fp").alias("fp"),
            (F.col("__pos") - F.col("__tp")).alias("fn"),
            (F.col("__neg") - F.col("__fp")).alias("tn"),
            F.col("__pos").alias("pos"),
            F.col("__neg").alias("neg"),
        ).alias("__cand"),
    ).groupBy(*gcols).agg(F.max("__cand").alias("__b"))
    scale = float(10 ** quantize)
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return best.select(
        *gcols,
        (F.col("__b.s").cast("double") / F.lit(scale)).alias("threshold"),
        F.col("__b.tp").alias("tp"),
        F.col("__b.fp").alias("fp"),
        F.col("__b.fn").alias("fn"),
        F.col("__b.tn").alias("tn"),
        (
            F.floor(F.col("__b.jq").cast("double") / F.lit(1e6))
            / F.lit(1e6)
        ).alias("j_q6"),
        q6(
            F.try_divide(
                F.col("__b.tp").cast("double"),
                F.col("__b.pos").cast("double"),
            )
        ).alias("tpr_q6"),
        q6(
            F.try_divide(
                F.col("__b.fp").cast("double"),
                F.col("__b.neg").cast("double"),
            )
        ).alias("fpr_q6"),
    )


def spiegelhalter_z(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    quantize: int = 4,
) -> DataFrame:
    """Spiegelhalter's Z test of calibration — the significance
    companion to [[calibration_bins]]/[[expected_calibration_error]]:
    is the Brier score worse than a PERFECTLY CALIBRATED forecaster
    with these same probabilities would produce by chance? Binning-free
    (no bin-count knob to argue about), N(0,1) under the null.

    INTEGER-EXACT on the probability grid: with p quantized to
    k/S (S = 10^quantize), the S² / S⁴ normalizers of numerator and
    denominator cancel in the ratio, leaving
    Z = sum (S·y - k)(S - 2k) / sqrt(sum k(S-k)(S-2k)²) — both sums
    DECIMAL(38,0) over per-row integer products (one map-combinable
    aggregate, no shuffle beyond the single reduce), ONE terminal
    float division. Returns one row (n, z_q6); null when the
    denominator is 0 (all probabilities at 0/1 — the null variance is
    degenerate).
    """
    from .curate import _quant

    s_grid = 10 ** quantize
    k = _quant(F.col(prob_col), quantize)
    y = F.col(label_col).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    base = df.select(k.alias("__k"), y.alias("__y")).filter(
        F.col("__k").isNotNull() & F.col("__y").isNotNull()
    )
    s_lit = F.lit(s_grid).cast("long")
    agg = base.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            dec(s_lit * F.col("__y") - F.col("__k"))
            * dec(s_lit - 2 * F.col("__k"))
        ).alias("__num"),
        F.sum(
            dec(F.col("__k"))
            * dec(s_lit - F.col("__k"))
            * dec(s_lit - 2 * F.col("__k"))
            * dec(s_lit - 2 * F.col("__k"))
        ).alias("__den"),
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        "n",
        F.when(
            F.col("__den").cast("double") > 0,
            q6(
                F.col("__num").cast("double")
                / F.sqrt(F.col("__den").cast("double"))
            ),
        ).alias("z_q6"),
    )


def rank_biased_precision(
    ranked: DataFrame,
    rel_col: str = "rel",
    rank_col: str = "rank",
    group_cols: tuple = ("query_id",),
    p_num: int = 4,
    p_den: int = 5,
) -> DataFrame:
    """Rank-biased precision (Moffat & Zobel) per query over a ranked
    judged table — the top-weighted metric with an explicit USER MODEL
    (persistence p = probability of examining the next result) and,
    unlike [[rank_metrics_at_k]]'s cutoffs, a built-in RESIDUAL: p^d
    bounds how much the unjudged tail below depth d could still add,
    so a shallow judgment pool is visibly shallow in the artifact.

    Persistence is an exact RATIONAL p = p_num/p_den (default 4/5 =
    the standard 0.8): a float-pow formulation drifts by an ulp
    between engines' libm pow and flips floor-1e-6 boundaries (caught
    by the sf0.1 oracle the first time), whereas
    RBP = (den-num) * sum_r rel_r num^(r-1) den^(d-r) / den^d makes
    every per-rank term an exact BIGINT (order-free integer sum — no
    stepped window needed) and leaves ONE terminal float division;
    the residual p^d = num^d/den^d is a ratio of two exact integers.
    Exact bound: the powers are exact only while den^d < 2^53 (every
    integer below 2^53 is a double; d <= 22 at den=5). A group deeper
    than that, or whose ranks are not exactly 1..d (a gap, a repeat or
    a NULL rank), gets NULL rbp_q6 and rbp_residual_q6 rather than a
    silently wrong value. One group-key shuffle.
    Returns (group..., n_ranked, rbp_q6, rbp_residual_q6).
    """
    if not 0 < p_num < p_den:
        raise ValueError("need 0 < p_num < p_den")
    max_d = 0
    while p_den ** (max_d + 1) < 2 ** 53:
        max_d += 1
    gcols = list(group_cols)
    r = F.col(rank_col).cast("int")
    rel = F.col(rel_col).cast("long")
    base = ranked.select(
        *gcols, r.alias("__rank"), rel.alias("__rel")
    )
    wfull = Window.partitionBy(*gcols)
    # the sorted ranks equal 1..d exactly when each equals its position
    wpos = wfull.orderBy(F.col("__rank").asc_nulls_first())
    wide = base.select(
        *gcols,
        "__rank",
        "__rel",
        F.count("*").over(wfull).cast("long").alias("__d"),
        F.coalesce(
            F.col("__rank") == F.row_number().over(wpos), F.lit(False)
        ).alias("__at"),
    )
    # exact integer powers: round() kills any 1-ulp pow error before
    # the cast (values < 2^53 are exactly representable)
    ipow = lambda b, e: F.round(  # noqa: E731
        F.pow(F.lit(float(b)), e.cast("double")), 0
    ).cast("long")
    term = F.when(
        F.col("__at") & (F.col("__d") <= max_d),
        F.col("__rel")
        * ipow(p_num, F.col("__rank") - 1)
        * ipow(p_den, F.col("__d") - F.col("__rank")),
    )
    agg = wide.groupBy(*gcols).agg(
        F.max("__d").cast("long").alias("n_ranked"),
        F.sum(term).cast("long").alias("__isum"),
        F.bool_and("__at").alias("__exact"),
    )
    ok = F.col("__exact") & (F.col("n_ranked") <= max_d)
    den_d = F.round(
        F.pow(F.lit(float(p_den)), F.col("n_ranked").cast("double")), 0
    )
    num_d = F.round(
        F.pow(F.lit(float(p_num)), F.col("n_ranked").cast("double")), 0
    )
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        *gcols,
        "n_ranked",
        F.when(
            ok,
            q6(
                (F.lit(float(p_den - p_num)) * F.col("__isum").cast("double"))
                / den_d
            ),
        ).alias("rbp_q6"),
        F.when(ok, q6(num_d / den_d)).alias("rbp_residual_q6"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
    quantize: int = 4,
) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit chi2 for probability
    calibration — the BINNED significance companion completing the
    calibration trio: [[calibration_bins]] draws the reliability
    diagram, [[spiegelhalter_z]] tests without bins, HL is the
    classic grouped chi2 reviewers ask for. Bins are EQUAL-WIDTH over
    [0,1] (not sample deciles: rank-based bin edges depend on
    engine-side quantile mechanics, fixed-width edges are pure
    arithmetic both engines agree on).

    Per bin, observed positives O1 and the expected sum E1 = sum p
    are exact on the quantized grid (O1 BIGINT, E1 = BIGINT sum of
    grid units / S); chi2 folds (O1-E1)²/E1 + (O0-E0)²/E0 over the
    <= n_bins rows in fixed bin order (stepped window — the house
    rule for cross-row float sums); bins with a zero expected side
    are skipped (standard practice) and counted in n_bins_used.
    Returns one row (n, n_bins_used, chi2_q6, dof) with
    dof = n_bins_used - 2 (the logistic-fit convention), null chi2
    when fewer than 3 usable bins.
    """
    from .curate import _quant

    s_grid = 10 ** quantize
    k = _quant(F.col(prob_col), quantize)
    y = F.col(label_col).cast("long")
    base = df.select(k.alias("__k"), y.alias("__y")).filter(
        F.col("__k").isNotNull() & F.col("__y").isNotNull()
    )
    b = F.least(
        F.lit(n_bins - 1),
        F.floor(
            F.col("__k").cast("double")
            / F.lit(float(s_grid))
            * F.lit(float(n_bins))
        ).cast("int"),
    )
    bins = base.select(b.alias("__b"), "__y", "__k").groupBy(
        "__b"
    ).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__o1"),
        F.sum("__k").cast("long").alias("__sk"),
    )
    e1 = F.col("__sk").cast("double") / F.lit(float(s_grid))
    e0 = F.col("__n").cast("double") - e1
    o1 = F.col("__o1").cast("double")
    o0 = (F.col("__n") - F.col("__o1")).cast("double")
    usable = (e1 > 0) & (e0 > 0)
    term = F.when(
        usable,
        (o1 - e1) * (o1 - e1) / e1 + (o0 - e0) * (o0 - e0) / e0,
    )
    ordw = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wfull = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stepped = bins.select(
        F.sum("__n").over(wfull).cast("long").alias("n"),
        F.sum(usable.cast("long")).over(wfull).cast("long").alias(
            "n_bins_used"
        ),
        F.sum(term).over(ordw).alias("__chi2"),
        F.row_number().over(Window.orderBy("__b")).alias("__rn"),
        F.count("*").over(wfull).alias("__nb"),
    )
    last = stepped.filter(F.col("__rn") == F.col("__nb"))
    q6 = lambda c: F.floor(c * F.lit(1e6)) / F.lit(1e6)  # noqa: E731
    return last.select(
        "n",
        "n_bins_used",
        F.when(
            F.col("n_bins_used") >= 3, q6(F.col("__chi2"))
        ).alias("chi2_q6"),
        F.when(
            F.col("n_bins_used") >= 3,
            (F.col("n_bins_used") - 2).cast("long"),
        ).alias("dof"),
    )
