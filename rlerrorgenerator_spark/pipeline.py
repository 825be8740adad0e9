"""End-to-end record-linkage benchmark pipeline.

The Spark-first re-expression of the reference's
``generate_pairs_for_county`` flow (`/root/reference/benchmarking/utils.R:1282-1360`
+ `paper_flow_dob_latest.Rmd:58-93`, SURVEY.md §3.2):

  synth clean pages → inject errors (mess_data) → block → score →
  label (from lineage) → metrics → resolve 1-to-1 → transitive clusters

Every stage can persist through a CheckpointManager (resume = stage skip),
matching the north rule's "resumable from checkpoint with per-partition
lineage + metrics".
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlerrorgenerator_spark.checkpoint import CheckpointManager
from rlerrorgenerator_spark.linkage.blocking import build_candidates
from rlerrorgenerator_spark.linkage.features import score_pairs
from rlerrorgenerator_spark.linkage.metrics import (
    label_pairs,
    pairwise_metrics,
    per_partition_metrics,
)
from rlerrorgenerator_spark.linkage.resolve import clusters_from_links, find_best_links
from rlerrorgenerator_spark.operators import ErrorConfigRow, mess_data
from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages


def default_error_config(include_row_ops: bool = True) -> list[ErrorConfigRow]:
    """Representative program (FIXTURES.md §4; rates from the reference's
    `exta/error_table2.csv`)."""
    cfg = [
        ErrorConfigRow("indel", 0.05, ["text"]),
        ErrorConfigRow("repl", 0.05, ["text"], {"charset": "keyboard"}),
        ErrorConfigRow("tpose", 0.05, ["text"]),
        ErrorConfigRow("repl", 0.05, ["url"], {"charset": "ocr"}),
        ErrorConfigRow("swap_fields", 0.02, ["text", "lang"]),
        ErrorConfigRow("make_missing", 0.017, ["lang"]),
        ErrorConfigRow("date_replace", 0.03, ["warc_ts"], {"token": "day"}),
    ]
    if include_row_ops:
        cfg += [
            ErrorConfigRow("add_duplicates", 0.02, []),
            ErrorConfigRow("add_near_duplicates", 0.02, []),
        ]
    return cfg


@dataclass
class LinkageResult:
    clean: DataFrame
    dirty: DataFrame
    lineage: DataFrame
    candidates: DataFrame
    scored: DataFrame
    labeled: DataFrame
    metrics: DataFrame
    links: DataFrame
    clusters: DataFrame
    extras: dict = field(default_factory=dict)


def run_linkage(
    spark: SparkSession,
    n_rows: int = 2000,
    seed: int = 42,
    config: list[ErrorConfigRow] | None = None,
    pages: DataFrame | None = None,
    ckpt_dir: str | None = None,
    compute_clusters: bool = True,
    exact: bool = True,
    body_tokens: tuple[int, int] = (20, 120),
    amount_mult: float = 1.0,
    dirty_pages: DataFrame | None = None,
) -> LinkageResult:
    """Full benchmark run; returns every stage as a DataFrame.

    ``exact=False`` switches row sampling from exact-k (seeded top-k) to
    hash-Bernoulli — the 10^12-row path (SURVEY.md §4): every transform
    becomes one narrow fusable projection (no joins, no per-stage jobs),
    so the whole injection program checkpoints every few stages instead
    of every stage; realized counts are Binomial around the target.

    ``dirty_pages``: a pre-materialized dirty table (rid, url, text,
    lang, orig_url, …) — the 10^12-document deployment shape, where the
    injected corpus is a persisted Iceberg artifact derived ONCE and the
    linkage job's first step is scanning it, not regenerating it. When
    given, injection is skipped and ``lineage`` is empty (ground truth
    for labeling travels in the table's own ``orig_url``).
    """
    ckpt = CheckpointManager(spark, ckpt_dir)
    if pages is None:
        pages = synth_pages(spark, n_rows, seed=seed, body_tokens=body_tokens)
    # The html binary never participates in linkage (text is the extracted
    # invariant); drop it from the WORKING set. On a real deployment the
    # clean table sits in Iceberg/Parquet and columnar pruning skips html
    # for free — an in-memory localCheckpoint would charge full bytes for
    # a column no stage reads.
    clean = ckpt.stage(prep_pages(pages).drop("html"), "clean")
    cfg = config or default_error_config()
    if dirty_pages is not None:
        from rlerrorgenerator_spark.operators.driver import empty_lineage

        dirty, lineage = dirty_pages, empty_lineage(spark)
    else:
        dirty, lineage = mess_data(clean, cfg, seed=seed, ckpt=ckpt,
                                   exact=exact, amount_mult=amount_mult,
                                   checkpoint_every=1 if exact else 4)
    # Stage the injected table ONCE before its fan-out: blocking scans it
    # 3x (exact keys, SNM sort key, minhash signatures), scoring and
    # labeling twice more, and on the volatile Bernoulli path the row-op
    # tail (duplicates/twins unions + joins) re-executed under EVERY
    # consumer. At 100 TB the dirty corpus is the benchmark artifact and
    # is always persisted (the durable path already staged it; the
    # dirty_pages path reads it straight from parquet/Iceberg — columnar
    # scans re-read cheaply, so no extra in-memory snapshot); A/B/A/B
    # bound legs at 240k rows measured the 4-core leg 131-142s unstaged
    # vs 126-128s staged. The 1-core leg pays one extra serial
    # materialization (~15s) — the staged table is still the right plan
    # at every parallelism.
    if dirty_pages is None:
        dirty = ckpt.stage(dirty, "dirty_staged")
    candidates = ckpt.stage(
        build_candidates(clean, dirty), "candidates"
    )
    scored = ckpt.stage(score_pairs(candidates, clean, dirty), "scored")
    # labeled is one cheap broadcast-ish join off the scored checkpoint
    # with exactly one aggregation consumer (metrics) in a volatile run —
    # materializing it is a pure extra pass over ~all pairs (measured 8s
    # at 4 cores / 25s at 1 core on 940k pairs). Stage it only when a
    # durable ckpt_dir asks for resumability.
    labeled = (ckpt.stage(label_pairs(scored, dirty), "labeled")
               if ckpt.base_dir else label_pairs(scored, dirty))
    metrics = pairwise_metrics(labeled)
    links = find_best_links(scored)
    if compute_clusters:
        all_ids = clean.select(F.col("url").alias("id")).unionByName(
            dirty.select(F.col("rid").alias("id"))
        )
        # transitive closure consumes ALL accepted pairs — the 1-to-1
        # odds filter (reference semantics, for 1-1 datasets) would break
        # duplicate clusters, where one clean row rightly matches several
        # dirty rows with near-equal probability.
        accepted = scored.where(F.col("prediction")).select("rid_a", "rid_b", "match_prob")
        # bounded_degree: these links exist only through build_candidates,
        # whose hot-block caps bound any id's degree (≤ ~600) — the CC
        # hot-node detection job would scan the edge set to learn a fact
        # the blocking layer already guarantees
        clusters = clusters_from_links(accepted, all_ids, bounded_degree=True)
    else:
        clusters = links.select(
            F.col("rid_a").alias("id"), F.col("rid_a").alias("cluster_id")
        ).limit(0)
    extras = {"partition_metrics": per_partition_metrics(labeled)}
    return LinkageResult(
        clean=clean, dirty=dirty, lineage=lineage, candidates=candidates,
        scored=scored, labeled=labeled, metrics=metrics, links=links,
        clusters=clusters, extras=extras,
    )
