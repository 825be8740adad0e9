"""Incremental linkage == monolithic relinkage, exactly.

The equivalence argument (linkage/incremental.py docstring) is that
dirty-dirty edges never exist and star-contraction of prior clusters
preserves min-id components. These tests check the claim end-to-end:
split the dirty table into two batches, link batch 1, fold batch 2 in
incrementally, and require the LABELS (not just the partition) to equal
the full-recompute run's."""

from __future__ import annotations

from pyspark.sql import functions as F

from rlerrorgenerator_spark.linkage.blocking import build_candidates
from rlerrorgenerator_spark.linkage.features import score_pairs
from rlerrorgenerator_spark.linkage.incremental import (
    increment_clusters,
    link_increment,
)
from rlerrorgenerator_spark.linkage.resolve import clusters_from_links
from rlerrorgenerator_spark.operators import mess_data
from rlerrorgenerator_spark.pipeline import default_error_config
from rlerrorgenerator_spark.sources.pages import prep_pages, synth_pages


def _full_clusters(clean, dirty):
    cand = build_candidates(clean, dirty)
    scored = score_pairs(cand, clean, dirty)
    accepted = scored.where(F.col("prediction")).select(
        "rid_a", "rid_b", "match_prob")
    all_ids = clean.select(F.col("url").alias("id")).unionByName(
        dirty.select(F.col("rid").alias("id")))
    return clusters_from_links(accepted, all_ids)


def _labels(df):
    return sorted((r.id, r.cluster_id) for r in df.collect())


def test_increment_equals_full_relink(spark):
    clean = prep_pages(
        synth_pages(spark, 600, seed=11, body_tokens=(20, 120))
    ).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=11)
    dirty = dirty.localCheckpoint(eager=True)

    # batch split on the stable row key — deterministic, partition-proof
    b1 = dirty.where(F.crc32(F.col("rid")) % 2 == 0).localCheckpoint(eager=True)
    b2 = dirty.subtract(b1).localCheckpoint(eager=True)
    assert b1.count() > 0 and b2.count() > 0

    full = _labels(_full_clusters(clean, dirty))

    prior = _full_clusters(clean, b1).localCheckpoint(eager=True)
    updated = link_increment(clean, b2, prior)
    assert _labels(updated) == full


def test_increment_from_empty_prior(spark):
    clean = prep_pages(
        synth_pages(spark, 300, seed=12, body_tokens=(20, 120))
    ).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=12)
    dirty = dirty.localCheckpoint(eager=True)

    empty_prior = spark.createDataFrame([], "id string, cluster_id string")
    got = _labels(link_increment(clean, dirty, empty_prior))
    want = _labels(_full_clusters(clean, dirty))
    assert got == want


def test_stream_increment_equals_full(spark, tmp_path):
    # Structured Streaming fold: dirty rows arrive as parquet files, one
    # micro-batch per file (maxFilesPerTrigger=1). The final clusters
    # table must equal the monolithic relink REGARDLESS of how the file
    # source split the rows into batches.
    from rlerrorgenerator_spark.streaming.linkage_stream import stream_link_increment

    clean = prep_pages(
        synth_pages(spark, 400, seed=13, body_tokens=(20, 120))
    ).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=13)
    dirty = dirty.localCheckpoint(eager=True)

    input_dir = str(tmp_path / "stream_in")
    b1 = dirty.where(F.crc32(F.col("rid")) % 2 == 0)
    b2 = dirty.subtract(b1)
    b1.coalesce(2).write.mode("append").parquet(input_dir)
    b2.coalesce(2).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema(dirty.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    clusters_dir = str(tmp_path / "clusters")
    q = stream_link_increment(clean, stream, clusters_dir,
                              str(tmp_path / "ckpt"))
    assert q.awaitTermination(600)

    got = _labels(spark.read.parquet(clusters_dir))
    want = _labels(_full_clusters(clean, dirty))
    assert got == want


def test_fold_batch_resumes_uri_clusters_dir(spark, tmp_path):
    # a file:// clusters_dir must see the prior batch's table exactly
    # like a plain path does, not restart every fold from an empty prior
    from rlerrorgenerator_spark.streaming.linkage_stream import fold_batch

    clean = prep_pages(
        synth_pages(spark, 200, seed=14, body_tokens=(20, 120))
    ).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=14)
    dirty = dirty.localCheckpoint(eager=True)
    b1 = dirty.where(F.crc32(F.col("rid")) % 2 == 0).localCheckpoint(eager=True)
    b2 = dirty.subtract(b1).localCheckpoint(eager=True)

    tables = []
    for clusters_dir in (str(tmp_path / "plain"), (tmp_path / "uri").as_uri()):
        fold_batch(clean, b1, clusters_dir)
        fold_batch(clean, b2, clusters_dir)
        tables.append(_labels(spark.read.parquet(clusters_dir)))
    assert tables[0] == tables[1]
    # the write-then-swap side copy is gone after each fold
    assert sorted(p.name for p in tmp_path.iterdir()) == ["plain", "uri"]


def test_fold_batch_finishes_interrupted_swap(spark, tmp_path):
    # a crash mid-swap: the post-b2 table is committed in <dir>__next and
    # the overwrite already cleared the canonical table. Replaying b2
    # must finish the swap, not fold b2 into an empty prior.
    import shutil

    from rlerrorgenerator_spark.streaming.linkage_stream import fold_batch

    clean = prep_pages(
        synth_pages(spark, 200, seed=15, body_tokens=(20, 120))
    ).localCheckpoint(eager=True)
    dirty, _ = mess_data(clean, default_error_config(), seed=15)
    dirty = dirty.localCheckpoint(eager=True)
    b1 = dirty.where(F.crc32(F.col("rid")) % 2 == 0).localCheckpoint(eager=True)
    b2 = dirty.subtract(b1).localCheckpoint(eager=True)

    clusters_dir = str(tmp_path / "clusters")
    fold_batch(clean, b1, clusters_dir)
    fold_batch(clean, b2, clusters_dir)
    want = _labels(spark.read.parquet(clusters_dir))

    shutil.copytree(clusters_dir, clusters_dir + "__next")
    shutil.rmtree(clusters_dir)
    (tmp_path / "clusters").mkdir()
    fold_batch(clean, b2, clusters_dir)
    assert _labels(spark.read.parquet(clusters_dir)) == want
    assert not (tmp_path / "clusters__next").exists()


def test_increment_bridges_prior_clusters(spark):
    # two singleton prior clusters merged by one new edge: min-id label
    # must re-minimize over BOTH prior memberships
    prior = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("x", "x"), ("y", "x")],
        "id string, cluster_id string",
    )
    accepted = spark.createDataFrame([("b", "y")], "rid_a string, rid_b string")
    new_ids = spark.createDataFrame([("b",), ("y",)], "id string")
    got = _labels(increment_clusters(accepted, prior, new_ids))
    assert got == [("a", "a"), ("b", "a"), ("x", "a"), ("y", "a")]
