"""The benchmark's workloads.

Each workload builds its input fixture from the seed, runs one closed-loop
iteration (untraced through the program's own entry points, or traced one
layer call at a time) and checks its outputs against lineage truth.
README.md in this directory says why each workload exists and which
layers it loads.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rlerrorgenerator_spark.checkpoint import CheckpointManager
from rlerrorgenerator_spark.linkage.blocking import build_candidates
from rlerrorgenerator_spark.linkage.features import score_pairs
from rlerrorgenerator_spark.linkage.metrics import label_pairs, pairwise_metrics
from rlerrorgenerator_spark.linkage.resolve import clusters_from_links
from rlerrorgenerator_spark.operators import mess_data
from rlerrorgenerator_spark.pipeline import default_error_config, run_linkage
from rlerrorgenerator_spark.sources.pages import (
    pages_from_documents,
    prep_pages,
    synth_pages,
)
from tracing import Spans, TracedCheckpointManager

# Common-Crawl-like page density, as in the scaling fixture of bench.py.
BODY_TOKENS = (200, 600)

# Candidate ``block`` labels -> per-layer metric suffix.
BLOCKS = {
    "exact:url_norm": "exact_url",
    "exact:text_prefix": "exact_text",
    "snm": "snm",
    "minhash": "minhash",
}


@dataclass
class Result:
    """One iteration's outputs: the counts every iteration must repeat,
    plus the frames the end-of-run checks read."""

    candidates: int = 0
    clusters: int = 0
    dirty_rows: int = 0
    lineage_rows: int = 0
    f1: float | None = None
    frames: dict[str, DataFrame] = field(default_factory=dict)

    def signature(self) -> tuple:
        return (self.candidates, self.clusters, self.dirty_rows,
                self.lineage_rows, self.f1)


def _flag(col: str):
    return F.coalesce(F.col(col), F.lit(False)).cast("long")


def _linkage_result(clean, dirty, lineage, candidates, scored, metrics,
                    clusters) -> Result:
    return Result(
        candidates=candidates.count(),
        clusters=clusters.agg(F.countDistinct("cluster_id")).collect()[0][0],
        dirty_rows=dirty.count(),
        lineage_rows=lineage.count() if lineage is not None else 0,
        f1=metrics.collect()[0]["f1"],
        frames={"clean": clean, "dirty": dirty, "candidates": candidates,
                "scored": scored},
    )


def traced_linkage(spark: SparkSession, spans: Spans, pages: DataFrame, *,
                   seed: int, exact: bool, ckpt_dir: str | None = None,
                   dirty_pages: DataFrame | None = None) -> Result:
    """``run_linkage``'s stage sequence, one span per layer call. Outputs
    must equal the untraced run's; the run loop checks that."""
    ckpt = TracedCheckpointManager(spans, spark, ckpt_dir)
    clean = ckpt.stage(prep_pages(pages).drop("html"), "clean")
    lineage = None
    if dirty_pages is None:
        with spans.span("operators"):
            dirty, lineage = mess_data(clean, default_error_config(),
                                       seed=seed, ckpt=ckpt, exact=exact,
                                       checkpoint_every=1 if exact else 4)
        dirty = ckpt.stage(dirty, "dirty_staged")
    else:
        dirty = dirty_pages
    with spans.span("linkage.blocking"):
        candidates = spans.materialize(build_candidates(clean, dirty))
    candidates = ckpt.stage(candidates, "candidates")
    with spans.span("linkage.features"):
        scored = spans.materialize(score_pairs(candidates, clean, dirty))
    scored = ckpt.stage(scored, "scored")
    with spans.span("linkage.metrics"):
        labeled = spans.materialize(label_pairs(scored, dirty))
        if ckpt_dir:
            labeled = ckpt.stage(labeled, "labeled")
        metrics = spans.materialize(pairwise_metrics(labeled))
    with spans.span("linkage.resolve"):
        all_ids = clean.select(F.col("url").alias("id")).unionByName(
            dirty.select(F.col("rid").alias("id")))
        accepted = scored.where(F.col("prediction")).select(
            "rid_a", "rid_b", "match_prob")
        clusters = spans.materialize(
            clusters_from_links(accepted, all_ids, bounded_degree=True))
    return _linkage_result(clean, dirty, lineage, candidates, scored,
                           metrics, clusters)


def _untraced_linkage(spark, pages, **kwargs) -> Result:
    res = run_linkage(spark, pages=pages, compute_clusters=True, **kwargs)
    lineage = res.lineage if kwargs.get("dirty_pages") is None else None
    return _linkage_result(res.clean, res.dirty, lineage, res.candidates,
                           res.scored, res.metrics, res.clusters)


def pair_truth(frames: dict[str, DataFrame]) -> dict[str, float]:
    """Linkage quality against the full lineage truth set: every dirty row
    whose ``orig_url`` is a clean url is one true pair. Unlike the
    engine's ``pairwise_metrics``, which counts misses only among
    candidates, this also counts the true pairs blocking never proposed."""
    clean, dirty = frames["clean"], frames["dirty"]
    truth = (dirty.select(F.col("orig_url").alias("rid_a"),
                          F.col("rid").alias("rid_b"))
             .join(clean.select(F.col("url").alias("rid_a")), "rid_a",
                   "left_semi")
             .withColumn("is_true", F.lit(True)))
    scored = frames["scored"].select(
        "rid_a", "rid_b", (F.col("match_prob") > 0.5).alias("pred"))
    cands = (frames["candidates"].select("rid_a", "rid_b", "block")
             .join(scored, ["rid_a", "rid_b"], "left")
             .withColumn("is_cand", F.lit(True)))
    both = F.col("is_true") & F.col("is_cand")
    row = truth.join(cands, ["rid_a", "rid_b"], "full").agg(
        F.sum(_flag("is_true")).alias("n_true"),
        F.sum(_flag("is_cand")).alias("n_cand"),
        F.sum(F.coalesce(both, F.lit(False)).cast("long")).alias("true_cand"),
        F.sum(_flag("pred")).alias("n_pred"),
        F.sum(F.coalesce(F.col("pred") & F.col("is_true"), F.lit(False))
              .cast("long")).alias("tp"),
        *[F.sum((F.col("block") == label).cast("long")).alias(name)
          for label, name in BLOCKS.items()],
    ).collect()[0]
    n_true, n_cand = row["n_true"] or 0, row["n_cand"] or 0
    out = {
        "truth_f1": 2 * row["tp"] / max(row["n_pred"] + n_true, 1),
        "pair_precision": row["true_cand"] / max(n_cand, 1),
        "pair_completeness": row["true_cand"] / max(n_true, 1),
    }
    out.update({name: float(row[name] or 0) for name in BLOCKS.values()})
    return out


def lineage_truth(frames: dict[str, DataFrame]) -> dict[str, float]:
    """Injection quality: is the lineage an exact record of the rows the
    program changed? A dirty row is changed when it was generated (its
    ``rid`` is not its ``orig_url``) or when any field differs from its
    clean origin; it is recorded when the lineage names its ``rid``."""
    clean, dirty, lineage = frames["clean"], frames["dirty"], frames["lineage"]
    fields = ["url", "text", "lang", "warc_ts"]
    origin = clean.select(F.col("url").alias("orig_url"),
                          *[F.col(f).alias(f"clean_{f}") for f in fields])
    recorded = lineage.select("rid").distinct()
    changed = F.col("rid") != F.col("orig_url")
    for f in fields:
        changed = changed | ~F.col(f).eqNullSafe(F.col(f"clean_{f}"))
    rec = F.col("is_rec").isNotNull()
    row = (dirty.select("rid", "orig_url", *fields)
           .join(origin, "orig_url", "left")
           .join(recorded.withColumn("is_rec", F.lit(True)), "rid", "left")
           .agg(F.sum((changed & rec).cast("long")).alias("tp"),
                F.sum(changed.cast("long")).alias("n_changed"),
                F.sum(rec.cast("long")).alias("n_rec"),
                F.sum((F.col("rid") == F.col("orig_url")).cast("long"))
                .alias("n_kept"),
                F.sum(F.col("clean_url").isNull().cast("long"))
                .alias("n_orphan"))
           ).collect()[0]
    return {
        "truth_f1": 2 * row["tp"] / max(row["n_changed"] + row["n_rec"], 1),
        "kept_rows": float(row["n_kept"]),
        "orphan_rows": float(row["n_orphan"]),
        "orphan_lineage_rids": float(
            recorded.join(dirty.select("rid"), "rid", "left_anti").count()),
    }


class LinkDense:
    """Linkage over a pre-materialized clean + dirty parquet fixture."""

    name = "link_dense"

    def __init__(self, pages: int):
        self.pages = pages

    def make_fixture(self, spark, seed: int, fx: str) -> None:
        synth_pages(spark, self.pages, seed=seed, body_tokens=BODY_TOKENS) \
            .write.parquet(os.path.join(fx, "pages"))
        clean = prep_pages(spark.read.parquet(os.path.join(fx, "pages"))) \
            .drop("html")
        dirty, _ = mess_data(clean, default_error_config(), seed=seed,
                             exact=False)
        dirty.write.parquet(os.path.join(fx, "dirty"))

    def run(self, spark, seed: int, fx: str, out: str,
            spans: Spans | None) -> Result:
        pages = spark.read.parquet(os.path.join(fx, "pages"))
        dirty = spark.read.parquet(os.path.join(fx, "dirty"))
        if spans is None:
            return _untraced_linkage(spark, pages, seed=seed, exact=False,
                                     dirty_pages=dirty)
        return traced_linkage(spark, spans, pages, seed=seed, exact=False,
                              dirty_pages=dirty)

    def pairs(self, res: Result) -> int:
        return res.candidates

    def truth(self, res: Result) -> dict[str, float]:
        return pair_truth(res.frames)

    def correct(self, res: Result, truth: dict[str, float]) -> bool:
        return (res.f1 >= 0.99 and truth["truth_f1"] >= 0.99
                and res.candidates > 0 and res.clusters > 0)


class InjectWrite:
    """Scan clean pages, inject errors, write dirty + lineage parquet."""

    name = "inject_write"

    def __init__(self, pages: int):
        self.pages = pages

    def make_fixture(self, spark, seed: int, fx: str) -> None:
        synth_pages(spark, self.pages, seed=seed, body_tokens=BODY_TOKENS) \
            .write.parquet(os.path.join(fx, "pages"))

    def run(self, spark, seed: int, fx: str, out: str,
            spans: Spans | None) -> Result:
        pages = spark.read.parquet(os.path.join(fx, "pages"))
        cfg = default_error_config()
        if spans is None:
            clean = prep_pages(pages).drop("html")
            dirty, lineage = mess_data(clean, cfg, seed=seed, exact=False,
                                       ckpt=CheckpointManager(spark, out),
                                       checkpoint_every=4)
        else:
            with spans.span("sources.pages"):
                clean = spans.materialize(prep_pages(pages).drop("html"))
            with spans.span("operators"):
                dirty, lineage = mess_data(
                    clean, cfg, seed=seed, exact=False,
                    ckpt=TracedCheckpointManager(spans, spark, out),
                    checkpoint_every=4)
        return Result(dirty_rows=dirty.count(), lineage_rows=lineage.count(),
                      frames={"clean": clean, "dirty": dirty,
                              "lineage": lineage})

    def pairs(self, res: Result) -> int:
        # each dirty row is one labelled (clean origin, dirty copy) pair
        return res.dirty_rows

    def truth(self, res: Result) -> dict[str, float]:
        return lineage_truth(res.frames)

    def correct(self, res: Result, truth: dict[str, float]) -> bool:
        return (truth["truth_f1"] >= 0.99
                and truth["kept_rows"] == self.pages
                and truth["orphan_rows"] == 0
                and truth["orphan_lineage_rids"] == 0)


# Token vocabulary, language mix and length range of the driver's
# ``documents`` test table (doc_id, text, lang, source, n_chars): short
# texts over a tiny vocabulary, so many unrelated documents look alike.
_DOC_VOCAB = (
    "a the data row column table key value hash sort scan filter group "
    "join agg window stream batch spark query order line part customer "
    "vector merge big small fast slow").split()
_DOC_LANGS = ["en", "zh", "es", "fr", "de"]
_DOC_LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]
_DOC_TOKENS = (8, 100)
_DOC_SOURCES = 20


def write_documents(path: str, n: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    lengths = rng.integers(*_DOC_TOKENS, size=n)
    words = np.array(_DOC_VOCAB)[rng.integers(0, len(_DOC_VOCAB),
                                              size=int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    langs = rng.choice(_DOC_LANGS, size=n, p=_DOC_LANG_W)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % _DOC_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


class DocsDurable:
    """Full ``run_linkage`` with exact-k injection and durable stages."""

    name = "docs_durable"

    def __init__(self, pages: int):
        self.pages = pages

    def make_fixture(self, spark, seed: int, fx: str) -> None:
        os.makedirs(fx, exist_ok=True)
        write_documents(os.path.join(fx, "documents.parquet"), self.pages,
                        seed)

    def run(self, spark, seed: int, fx: str, out: str,
            spans: Spans | None) -> Result:
        pages = pages_from_documents(
            spark.read.parquet(os.path.join(fx, "documents.parquet")))
        if spans is None:
            return _untraced_linkage(spark, pages, seed=seed, exact=True,
                                     ckpt_dir=out)
        return traced_linkage(spark, spans, pages, seed=seed, exact=True,
                              ckpt_dir=out)

    pairs = LinkDense.pairs
    truth = LinkDense.truth
    correct = LinkDense.correct
