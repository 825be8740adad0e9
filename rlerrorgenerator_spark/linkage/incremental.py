"""Incremental linkage: fold a NEW batch of dirty records into an
existing clustering without rescoring history.

The reference relinks the whole county file per run
(`/root/reference/benchmarking/utils.R:1282-1360` — every invocation of
``generate_pairs_for_county`` rebuilds all pairs). At 10^12 documents a
crawl is ingested in increments, and re-blocking + re-scoring the full
history per batch is O(corpus) work for O(batch) new information. This
module adds the missing scale capability on top of the same operators:

  link_increment(clean, new_dirty, prior_clusters)
      = block + score ONLY (clean x new_batch), then connected
        components over [new accepted edges ∪ contracted prior
        clusters], where each prior cluster is one star edge
        (id → cluster_id) per member.

EXACT equivalence with the monolithic run (tests/test_incremental.py):
this pipeline's blocking links clean↔dirty only (candidates are
(clean url, dirty rid)), so dirty-dirty edges never exist; the full
graph over history ∪ batch is E(clean, history) ∪ E(clean, batch), and
contracting E(clean, history) to its component stars preserves both
connectivity and the min-id representative (the prior cluster_id IS the
min id of its component, and every prior member stays present as a star
leaf — a batch edge that bridges two prior clusters re-minimizes over
all their members). Hence incremental labels == full-recompute labels,
not merely isomorphic ones.

Cost: blocking + scoring are O(|batch|); the CC loop runs over
|new edges| + |history| star edges — one shuffle-light pass instead of
re-scoring history (at crawl scale scoring dominates CC by orders of
magnitude). Prior clusters arrive as the checkpointed (id, cluster_id)
table the previous run staged (checkpoint.py), so increments compose:
run N's output is run N+1's prior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rlerrorgenerator_spark.linkage.blocking import build_candidates
from rlerrorgenerator_spark.linkage.features import score_pairs
from rlerrorgenerator_spark.linkage.resolve import connected_components


def increment_clusters(accepted: DataFrame, prior_clusters: DataFrame,
                       new_ids: DataFrame) -> DataFrame:
    """Merge newly accepted (rid_a, rid_b) edges into ``prior_clusters``
    ((id, cluster_id)); returns the updated (id, cluster_id) covering
    prior ∪ new ids. Pure graph step — usable with edges from any
    scorer."""
    prior_edges = (
        prior_clusters.where(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias("src"), F.col("cluster_id").alias("dst"))
    )
    new_edges = accepted.select(
        F.col("rid_a").alias("src"), F.col("rid_b").alias("dst")
    )
    comp = connected_components(new_edges.unionByName(prior_edges))
    all_ids = (
        prior_clusters.select("id")
        .unionByName(new_ids.toDF("id"))
        .distinct()
    )
    return (
        all_ids.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("cluster_id"))
    )


def link_increment(clean: DataFrame, new_dirty: DataFrame,
                   prior_clusters: DataFrame,
                   verify: bool = False) -> DataFrame:
    """Block + score the new batch against the clean table only, then
    fold accepted edges into the prior clustering. Returns the updated
    (id, cluster_id) table (prior ids ∪ clean urls ∪ batch rids).
    ``verify=True`` runs the cross-engine verification modes of the same
    plans: md5 MinHash signatures (blocking.build_candidates) and exact
    shingle sets (features.score_pairs)."""
    candidates = build_candidates(clean, new_dirty,
                                  signature="md5" if verify else "xxhash")
    scored = score_pairs(candidates, clean, new_dirty, exact_shingles=verify)
    accepted = scored.where(F.col("prediction")).select("rid_a", "rid_b")
    new_ids = (
        clean.select(F.col("url").alias("id"))
        .unionByName(new_dirty.select(F.col("rid").alias("id")))
    )
    return increment_clusters(accepted, prior_clusters, new_ids)
