"""Resolution: 1-to-1 best links + transitive clustering.

- ``find_best_links``: the reference's windowed "odds" logic
  (`/root/reference/benchmarking/utils.R:426-470`): within each left id,
  rank by prob desc; accept the top pair if its margin over the runner-up
  exceeds ``odds``; then keep only 1-to-1 links (`utils.R:368-389`).
- ``connected_components``: the reference stops at 1-to-1 links; the
  north rule adds transitive clustering — iterative hash-to-min CC
  ("Finding connected components in MapReduce in logarithmic rounds",
  ICDE 2013, see PAPERS.md): every node repeatedly adopts the min label
  in its neighborhood; rounds are O(log d). Each round checkpoints
  (plan truncation) and a convergence count() gates the loop. Skew: the
  min-label aggregation is a groupBy — AQE skew-split handles hot
  components; for pathological stars pre-salt by splitting ``key ||
  hash(id)%k`` (documented; our benchmark graphs are duplicate-clusters
  of size ≤ 4, so depth 2-3 suffices).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def find_best_links(scored: DataFrame, odds: float = 0.4,
                    prob_col: str = "match_prob",
                    threshold: float = 0.5) -> DataFrame:
    """Accepted, 1-to-1 resolved links (rid_a, rid_b, match_prob)."""
    acc = scored.where(F.col(prob_col) > threshold).select("rid_a", "rid_b", prob_col)
    wa = Window.partitionBy("rid_a").orderBy(F.desc(prob_col), "rid_b")
    acc = (
        acc.withColumn("rk", F.row_number().over(wa))
        .withColumn("nxt", F.lead(prob_col).over(wa))
        .where(
            (F.col("rk") == 1)
            & (F.col("nxt").isNull() | ((F.col(prob_col) - F.col("nxt")) > odds))
        )
        .drop("rk", "nxt")
    )
    # 1-to-1: each rid_b may keep only its single best accepted rid_a
    wb = Window.partitionBy("rid_b").orderBy(F.desc(prob_col), "rid_a")
    return acc.withColumn("rk", F.row_number().over(wb)).where(F.col("rk") == 1).drop("rk")


def connected_components(edges: DataFrame, max_iter: int = 20,
                         hot_degree: int | None = 1_000_000,
                         salt_factor: int = 16) -> DataFrame:
    """(src, dst) string edges → (id, component) with component = min id.

    Hash-to-min: labels ← min(own, min over neighbors); iterate to fixed
    point. Raises ``RuntimeError`` when labels still change in round
    ``max_iter`` instead of returning partial components. Deterministic
    (min on string ids). Each round localCheckpoints lazily — the
    amortized convergence count is the action that
    materializes the preceding round(s), so a 2-round graph costs ~2
    jobs, not 4 (count-per-round plus checkpoint-per-round was ~35% of
    the cluster stage's wall at benchmark scale, pure job-scheduling
    floor).

    Skew (north rule: "salted, AQE-tuned shuffles with explicit skew-key
    splitting"): the min-label aggregation combines map-side, so hot
    COMPONENTS cost nothing extra — the exposure is the message join,
    where a star node's edges all hash to one task. Nodes with degree >
    ``hot_degree`` get EXPLICIT salted handling: their label row is
    replicated ``salt_factor`` ways and their edges join on
    (src, hash(dst) % salt_factor), spreading the probe across
    ``salt_factor`` tasks; cold nodes keep the plain equi-join (AQE
    skew-join splitting covers residual imbalance). The min result is
    unaffected by the split — detection is one degree aggregation before
    the loop and is skipped entirely when no hot node exists.
    ``hot_degree=None`` skips the detection job itself — for callers
    whose edge source STATICALLY bounds degree (the blocking layer's
    per-strategy hot-block caps guarantee ≤ ~600 candidate edges per id,
    six orders below the salting threshold); crawl-scale callers with
    unbounded link graphs keep the default detection on.
    """
    # lazy localCheckpoints: both materialize inside round 0's first job
    # (plan truncation without two extra standalone jobs)
    sym = edges.select(F.col("src"), F.col("dst")).unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    if hot_degree is None:
        return _cc_loop(sym, labels, None, 0, None, salt_factor, max_iter)
    hot = (
        sym.groupBy("src").count().where(F.col("count") > hot_degree)
        .select(F.col("src").alias("__hot"))
    )
    n_hot = hot.count()
    if n_hot:
        hot = F.broadcast(hot.localCheckpoint(eager=True))
        sym_salted = (
            sym.join(hot, sym["src"] == hot["__hot"], "left")
            .withColumn(
                "__salt",
                F.when(F.col("__hot").isNotNull(),
                       F.pmod(F.xxhash64("dst"), F.lit(salt_factor)))
                .otherwise(F.lit(0)),
            )
            .drop("__hot")
            .localCheckpoint(eager=True)
        )
    return _cc_loop(sym, labels, hot, n_hot,
                    sym_salted if n_hot else None,
                    salt_factor, max_iter)


def _cc_loop(sym, labels, hot, n_hot, sym_salted, salt_factor,
             max_iter) -> DataFrame:
    for rnd in range(max_iter):
        # 1) hash-to-min message pass: every node adopts the min component
        #    seen across its neighborhood
        if n_hot:
            lab_cold = labels.join(
                hot, labels["id"] == hot["__hot"], "left_anti"
            ).withColumn("__salt", F.lit(0))
            lab_hot = labels.join(
                hot, labels["id"] == hot["__hot"], "left_semi"
            ).withColumn(
                "__salt",
                F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))),
            )
            lab_salted = lab_cold.unionByName(lab_hot)
            msgs = sym_salted.join(
                lab_salted,
                (sym_salted["src"] == lab_salted["id"])
                & (sym_salted["__salt"] == lab_salted["__salt"]),
            ).select(F.col("dst").alias("id"), F.col("component"))
        else:
            msgs = sym.join(labels, sym["src"] == labels["id"]).select(
                F.col("dst").alias("id"), F.col("component")
            )
        prop = (
            msgs.unionByName(labels.select("id", "component"))
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # 2) pointer jumping: component ← component's component. This is
        #    what makes convergence logarithmic in the longest path (the
        #    "min" alone walks one hop per round).
        rep = prop.select(F.col("id").alias("rep_id"), F.col("component").alias("rep_comp"))
        jumped = (
            prop.join(rep, prop["component"] == rep["rep_id"], "left")
            .select("id", F.coalesce("rep_comp", F.col("component")).alias("component"))
        )
        # LAZY checkpoint: plan truncation without a standalone job — the
        # convergence count below is the materializing action, so a
        # check round costs ONE job (materialize + compare) instead of
        # two, and a non-check round costs zero jobs (its work folds
        # into the next check round's materialization).
        jumped = jumped.localCheckpoint(eager=False)
        # convergence check amortized over every 2nd round (each count()
        # is a full driver job barrier; round 0 virtually never converges,
        # and pointer jumping finishes small-diameter graphs in 2-3
        # rounds, so checking at rounds 1,3,5… halves the barrier count)
        if rnd % 2 == 1 or rnd == max_iter - 1:
            changed = (
                jumped.join(labels.withColumnRenamed("component", "old"), "id")
                .where(F.col("component") != F.col("old"))
                .count()
            )
            if changed == 0:
                labels = jumped
                break
            if rnd == max_iter - 1:
                raise RuntimeError(
                    f"connected_components did not converge in "
                    f"max_iter={max_iter} rounds: {changed} labels still "
                    f"changed in the last round")
        labels = jumped
    return labels


def clusters_from_links(links: DataFrame, all_ids: DataFrame | None = None,
                        bounded_degree: bool = False) -> DataFrame:
    """Accepted links → (id, cluster_id) via transitive closure; isolated
    ids (no accepted link) become singleton clusters when ``all_ids``
    (1-column) is given. ``bounded_degree=True`` skips hot-node
    detection — valid when the links come through the blocking layer,
    whose per-strategy hot-block caps statically bound any id's degree
    far below the salting threshold."""
    edges = links.select(F.col("rid_a").alias("src"), F.col("rid_b").alias("dst"))
    comp = connected_components(edges,
                                hot_degree=None if bounded_degree else 1_000_000)
    if all_ids is not None:
        # dedup: callers union id universes that overlap (pages rids ARE
        # clean urls for in-place rows), and a duplicated id would emit
        # its cluster row once per occurrence — at crawl scale a clusters
        # table ~2x bigger than the id universe
        ids = all_ids.toDF("id").distinct()
        comp = ids.join(comp, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    return comp.withColumnRenamed("component", "cluster_id")
