"""Evaluation: pairwise classification metrics over labeled pairs.

Reference: ``calculate_metrics_prob``
(`/root/reference/benchmarking/utils.R:1005-1047`) — accuracy, precision,
recall, specificity, NPV, F1, classification error, Brier; review-percent
at PPV/NPV targets (`:1050-1081`); threshold search (`:1121-1160`).
All are single groupBy aggregations over the scored-pairs table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_pairs(scored: DataFrame, dirty: DataFrame) -> DataFrame:
    """Attach ground-truth labels from injection lineage: a pair is a true
    match iff the dirty row's ``orig_url`` equals the clean row's url
    (reference analogue: shared voter_reg_num, `utils.R:521-530`)."""
    truth = dirty.select(F.col("rid").alias("rid_b"), F.col("orig_url"))
    return scored.join(truth, "rid_b", "left").withColumn(
        "label", (F.col("orig_url") == F.col("rid_a")).cast("boolean")
    ).drop("orig_url")


def pairwise_metrics(labeled: DataFrame, prob_col: str = "match_prob",
                     threshold: float = 0.5,
                     with_auc: bool = False) -> DataFrame:
    """One-row DataFrame of tp/fp/fn/tn, precision, recall, f1, accuracy,
    specificity, npv, brier (`utils.R:1005-1047`).

    ``with_auc=True`` additionally computes AUC via the rank statistic
    (tie-corrected Mann-Whitney) and Gini = 2·AUC−1 — one extra bucketed
    aggregation pass (see ``_prob_buckets``); off by default so the hot
    pipeline path stays a single aggregation."""
    pred = F.col(prob_col) > threshold
    lab = F.col("label")
    clipped = F.least(F.greatest(F.col(prob_col), F.lit(0.0)), F.lit(1.0))
    agg = labeled.agg(
        F.sum((pred & lab).cast("long")).alias("tp"),
        F.sum((pred & ~lab).cast("long")).alias("fp"),
        F.sum((~pred & lab).cast("long")).alias("fn"),
        F.sum((~pred & ~lab).cast("long")).alias("tn"),
        F.avg(F.pow(clipped - lab.cast("double"), 2)).alias("brier"),
        F.count(F.lit(1)).alias("n_pairs"),
    )
    p = F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))
    r = F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))
    out = agg.select(
        "tp", "fp", "fn", "tn", "n_pairs", "brier",
        p.alias("precision"),
        r.alias("recall"),
        (2 * p * r / F.greatest(p + r, F.lit(1e-12))).alias("f1"),
        ((F.col("tp") + F.col("tn"))
         / F.greatest(F.col("tp") + F.col("tn") + F.col("fp") + F.col("fn"), F.lit(1))
         ).alias("accuracy"),
        (F.col("tn") / F.greatest(F.col("tn") + F.col("fp"), F.lit(1))
         ).alias("specificity"),
        (F.col("tn") / F.greatest(F.col("tn") + F.col("fn"), F.lit(1))
         ).alias("npv"),
    )
    if with_auc:
        out = out.crossJoin(auc_metrics(labeled, prob_col))
    return out


def _prob_buckets(labeled: DataFrame, prob_col: str, decimals: int = 5) -> DataFrame:
    """Per-distinct-probability aggregate ``(p, n, ny)`` — the bounded
    table every cumulative-precision scan runs over.

    Scale note: the raw labeled-pairs table can be billions of rows; a
    partition-less ``Window.orderBy`` over it is a single-task global sort
    (the round-1 scale-killer). Aggregating per probability bucket first
    is one shuffle with map-side combine; the windowed scan then touches
    only bucketed probability values. ``decimals`` must actually BOUND the
    bucket count: continuous scorers (logreg/MLP probabilities, the ts_sim
    term) emit near-unique values, so at 9 decimals the bucket table would
    degenerate back to ~n_pairs rows and the bounded window would again be
    a single-task global sort. 5 decimals caps the table at ≤ 100,001 rows
    regardless of input size while keeping AUC/threshold quantization
    error ≤ 5e-6 — far below the metric gates."""
    return (
        labeled.select(
            F.round(F.col(prob_col), decimals).alias("p"),
            F.col("label").cast("long").alias("y"),
        )
        .groupBy("p")
        .agg(F.count("*").alias("n"), F.sum("y").alias("ny"))
    )


def _cumulative(labeled: DataFrame, prob_col: str) -> DataFrame:
    """The bucketed cumulative table every threshold scan reads, one row
    per ``_prob_buckets`` bucket ``(p, n, ny)`` plus:

    - ``cum_ge`` / ``ctp`` / ``cfp``: pairs / positives / negatives with
      prob ≥ p, and ``ppv`` = ctp / cum_ge;
    - ``cum_le``: pairs with prob ≤ p, and ``npv`` = negatives with
      prob ≤ p over cum_le;
    - ``tot_pos`` / ``tot_neg``: table-wide positives / negatives.

    The windows run over distinct probabilities only (bounded), and
    Catalyst prunes the ones a caller does not read."""
    from pyspark.sql import Window

    wd = Window.orderBy(F.desc("p"))
    wa = Window.orderBy(F.asc("p"))
    wall = Window.partitionBy()
    neg = F.col("n") - F.col("ny")
    return (
        _prob_buckets(labeled, prob_col).select(
            "p", "n", "ny",
            F.sum("n").over(wd).alias("cum_ge"),
            F.sum("ny").over(wd).alias("ctp"),
            F.sum("n").over(wa).alias("cum_le"),
            F.sum(neg).over(wa).alias("cneg_le"),
            F.sum("ny").over(wall).alias("tot_pos"),
            F.sum(neg).over(wall).alias("tot_neg"),
        )
        .withColumn("cfp", F.col("cum_ge") - F.col("ctp"))
        .withColumn("ppv", F.col("ctp") / F.col("cum_ge"))
        .withColumn("npv", F.col("cneg_le") / F.col("cum_le"))
    )


def auc_metrics(labeled: DataFrame, prob_col: str = "match_prob") -> DataFrame:
    """One-row (auc, gini): tie-corrected rank-statistic AUC
    (`utils.R:1005-1047` computes AUC via ROCR; the Mann-Whitney form is
    the same quantity in one aggregation + one bounded window)."""
    # pairs ranked below bucket p: cum_le − n
    ranked = _cumulative(labeled, prob_col).withColumn(
        "avg_rank", F.col("cum_le") - F.col("n") + (F.col("n") + 1) / 2.0)
    agg = ranked.agg(
        F.sum(F.col("ny") * F.col("avg_rank")).alias("rank_sum"),
        F.sum("ny").alias("npos"),
        F.sum(F.col("n") - F.col("ny")).alias("nneg"),
    )
    auc = (
        (F.col("rank_sum") - F.col("npos") * (F.col("npos") + 1) / 2.0)
        / F.greatest(F.col("npos") * F.col("nneg"), F.lit(1))
    )
    return agg.select(auc.alias("auc"), (auc * 2 - 1).alias("gini"))


def per_partition_metrics(labeled: DataFrame, prob_col: str = "match_prob",
                          threshold: float = 0.5) -> DataFrame:
    """Per-partition tp/fp/fn + match rate — the north rule's
    per-partition metrics checkpoint payload."""
    pred = F.col(prob_col) > threshold
    lab = F.col("label")
    return (
        labeled.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.sum((pred & lab).cast("long")).alias("tp"),
            F.sum((pred & ~lab).cast("long")).alias("fp"),
            F.sum((~pred & lab).cast("long")).alias("fn"),
            F.avg(pred.cast("double")).alias("match_rate"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )


def calc_review_pct(labeled: DataFrame, ppv_target: float = 0.95,
                    npv_target: float = 0.95,
                    prob_col: str = "match_prob") -> DataFrame:
    """Fraction of pairs needing clerical review at PPV/NPV targets
    (`/root/reference/benchmarking/utils.R:1050-1081`): find the lowest
    upper threshold whose accept-set precision ≥ ppv_target and the
    highest lower threshold whose reject-set NPV ≥ npv_target; pairs with
    probability between the two need human review.

    Two actions over the bucketed cumulative table (``_cumulative`` — no
    partition-less window over raw pairs): one collect for the
    thresholds, one for the review count.
    """
    cum = _cumulative(labeled, prob_col).select("p", "n", "ppv", "npv") \
        .localCheckpoint(eager=False)
    row = cum.agg(
        F.min(F.when(F.col("ppv") >= ppv_target, F.col("p"))).alias("upper"),
        F.max(F.when(F.col("npv") >= npv_target, F.col("p"))).alias("lower"),
        F.sum("n").alias("total"),
    ).collect()[0]
    upper = row["upper"] if row["upper"] is not None else 1.0
    lower = row["lower"] if row["lower"] is not None else 0.0
    total = row["total"] or 0
    n_review = (
        cum.where((F.col("p") > lower) & (F.col("p") < upper))
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n")).collect()[0]["n"]
    )
    spark = labeled.sparkSession
    return spark.createDataFrame(
        [(float(lower), float(upper), int(n_review), int(total),
          n_review / max(total, 1))],
        ["lower_threshold", "upper_threshold", "n_review", "n_pairs", "review_pct"],
    )


def review_pct_grid(labeled: DataFrame,
                    targets: list[float] | None = None,
                    prob_col: str = "match_prob") -> DataFrame:
    """Review-percent sweep at PPV/NPV ∈ {0.90, 0.91, …, 1.00} — the
    reference's grid (`/root/reference/benchmarking/utils.R:1050-1081`,
    swept per target in `paper_flow_dob_latest.Rmd`). ONE pass: the
    bucketed cumulative table is computed once and every target is a
    conditional aggregate over it (not one job per target)."""
    if targets is None:
        targets = [round(0.90 + 0.01 * i, 2) for i in range(11)]
    cum = _cumulative(labeled, prob_col)
    aggs = [F.sum("n").alias("total")]
    for t in targets:
        key = f"{t:.2f}".replace(".", "_")
        # accepted at target t: largest accept-set (prob >= upper) with
        # cumulative precision >= t; rejected: largest reject-set with NPV >= t
        aggs.append(F.max(F.when(F.col("ppv") >= t, F.col("cum_ge")))
                    .alias(f"acc_{key}"))
        aggs.append(F.max(F.when(F.col("npv") >= t, F.col("cum_le")))
                    .alias(f"rej_{key}"))
    row = cum.agg(*aggs).collect()[0]
    total = row["total"] or 0
    out = []
    for t in targets:
        key = f"{t:.2f}".replace(".", "_")
        acc = row[f"acc_{key}"] or 0
        rej = row[f"rej_{key}"] or 0
        n_review = max(total - acc - rej, 0)
        out.append((t, int(acc), int(rej), int(n_review), int(total),
                    n_review / max(total, 1)))
    return labeled.sparkSession.createDataFrame(
        out, ["target", "n_accept", "n_reject", "n_review", "n_pairs", "review_pct"]
    )


def review_threshold_summary(labeled: DataFrame, ppv_target: float = 0.95,
                             npv_target: float = 0.95,
                             precision_target: float = 0.99,
                             prob_col: str = "match_prob") -> DataFrame:
    """One-row, collect-free review-percent + threshold-search summary —
    the driver-visible form of ``calc_review_pct`` /
    ``find_threshold_for_metric`` (`/root/reference/benchmarking/
    utils.R:1050-1081,1121-1160`), designed to crossJoin onto the e2e
    metrics row so an independent SQL engine can re-derive it with the
    same bounded windows.

    Semantics follow ``review_pct_grid``: accept/reject counts are the
    LARGEST qualifying cumulative sets (``max(cum_ge WHERE ppv ≥ t)``),
    review = total − accepted − rejected; the reported thresholds are the
    min/max qualifying bucket probabilities (with a non-monotonic ppv
    curve the extreme threshold and the largest set can sit on different
    buckets — both engines apply the identical formula, so the row stays
    cross-engine exact). ``thr_precision`` is the lowest threshold whose
    accept-set precision ≥ ``precision_target`` (max recall at that
    precision). Everything runs over the bounded ``_prob_buckets`` table
    — one shuffle plus bounded windows, no partition-less window over raw
    pairs and no driver collect."""
    agg = _cumulative(labeled, prob_col).agg(
        F.coalesce(F.min(F.when(F.col("ppv") >= ppv_target, F.col("p"))),
                   F.lit(1.0)).alias("review_upper"),
        F.coalesce(F.max(F.when(F.col("npv") >= npv_target, F.col("p"))),
                   F.lit(0.0)).alias("review_lower"),
        F.coalesce(F.max(F.when(F.col("ppv") >= ppv_target, F.col("cum_ge"))),
                   F.lit(0)).alias("n_accept"),
        F.coalesce(F.max(F.when(F.col("npv") >= npv_target, F.col("cum_le"))),
                   F.lit(0)).alias("n_reject"),
        F.sum("n").alias("total"),
        F.coalesce(F.min(F.when(F.col("ppv") >= precision_target, F.col("p"))),
                   F.lit(1.0)).alias("thr_precision"),
    )
    n_review = F.greatest(
        F.col("total") - F.col("n_accept") - F.col("n_reject"), F.lit(0))
    return agg.select(
        "review_lower", "review_upper", "n_accept", "n_reject",
        n_review.alias("n_review"),
        (n_review / F.greatest(F.col("total"), F.lit(1))).alias("review_pct"),
        "thr_precision",
    )


def roc_table(labeled: DataFrame, prob_col: str = "match_prob") -> DataFrame:
    """ROC points (threshold, tpr, fpr, precision) per distinct probability
    (`utils.R:1163-1190` builds the same table via ROCR), read off
    ``_cumulative``."""
    return _cumulative(labeled, prob_col).select(
        F.col("p").alias("threshold"),
        (F.col("ctp") / F.greatest("tot_pos", F.lit(1))).alias("tpr"),
        (F.col("cfp") / F.greatest("tot_neg", F.lit(1))).alias("fpr"),
        (F.col("ctp") / F.greatest(F.col("ctp") + F.col("cfp"), F.lit(1))
         ).alias("precision"),
    )


def sample_strat(labeled: DataFrame, n: int, match_frac: float = 0.2,
                 seed: int = 42, label_col: str = "label") -> DataFrame:
    """Stratified sample: ``n`` pairs at ``match_frac`` positives
    (`paper_flow_dob_latest.Rmd:161-172` ``sample_strat``). Deterministic
    seeded top-k per stratum (not ``sampleBy`` — that's Bernoulli and
    non-exact)."""
    from pyspark.sql import Window

    n_pos = int(n * match_frac)
    w = Window.partitionBy(label_col).orderBy(
        F.xxhash64(F.lit(seed), F.col("rid_a"), F.col("rid_b"))
    )
    ranked = labeled.withColumn("__rk", F.row_number().over(w))
    return ranked.where(
        (F.col(label_col) & (F.col("__rk") <= n_pos))
        | (~F.col(label_col) & (F.col("__rk") <= n - n_pos))
    ).drop("__rk")


def find_threshold_for_metric(labeled: DataFrame, metric: str = "precision",
                              target: float = 0.99,
                              prob_col: str = "match_prob") -> float | None:
    """Lowest threshold achieving ``metric ≥ target``
    (`utils.R:1121-1160`) — one action over the bucketed cumulative
    table (``_cumulative``; no partition-less window over raw pairs):
    the extreme qualifying threshold via a conditional agg."""
    cum = _cumulative(labeled, prob_col).withColumn(
        "precision", F.col("ppv")
    ).withColumn("recall", F.col("ctp") / F.greatest("tot_pos", F.lit(1)))
    # precision rises with threshold → lowest qualifying threshold gives
    # max recall at the target; recall falls with threshold → highest
    # qualifying threshold gives max precision at the target.
    pick = F.min if metric == "precision" else F.max
    ok = cum.agg(
        pick(F.when(F.col(metric) >= target, F.col("p"))).alias("t")
    ).collect()
    return ok[0]["t"] if ok else None
