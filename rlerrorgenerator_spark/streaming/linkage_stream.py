"""Streaming incremental linkage: fold a STREAM of dirty-page batches
into the clusters table, micro-batch by micro-batch.

The batch-mode equivalence proof (linkage/incremental.py: incremental
fold ≡ monolithic relink, label-for-label) makes this streaming form
safe by induction over micro-batches — and ORDER-INDEPENDENT, because
any batch split of the dirty table yields the same final labels. It is
also IDEMPOTENT under foreachBatch's at-least-once replay: re-folding a
batch whose edges are already inside the clusters changes no label
(connected components is a closure operator), so a crashed-and-replayed
micro-batch converges to the same table instead of corrupting it.

100 TB shape: the stream is the crawl's dirty-record feed; ``clean`` is
the reference entity table (broadcast-stable); the clusters table lives
in Iceberg and each micro-batch rewrites it transactionally (here:
parquet write-then-swap, same idempotent discipline). Scoring work per
trigger is O(batch), never O(history).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from rlerrorgenerator_spark.checkpoint import delete_path, path_exists
from rlerrorgenerator_spark.linkage.incremental import link_increment

_EMPTY_CLUSTERS = "id string, cluster_id string"


def fold_batch(clean: DataFrame, batch: DataFrame, clusters_dir: str,
               verify: bool = False) -> None:
    """One incremental fold: read the prior clusters table (empty on
    first batch), link the batch against clean, atomically replace the
    clusters table. Pure batch function — usable outside streaming.
    ``verify`` selects link_increment's verification modes."""
    spark = batch.sparkSession
    # write-then-swap: the updated table is materialized to a side path
    # first (reading and overwriting the same parquet path in one job is
    # undefined), then rewritten to the canonical path and deleted. On
    # Iceberg this is a single transactional overwrite.
    tmp = clusters_dir.rstrip("/") + "__next"
    if path_exists(spark, os.path.join(tmp, "_SUCCESS")):
        # a crash between the two writes: the overwrite clears the
        # canonical table before it rewrites it, so only the committed
        # side copy is whole — finish that swap before folding (a replayed
        # batch then re-folds idempotently instead of into an empty prior)
        _swap(spark, tmp, clusters_dir)
    if path_exists(spark, os.path.join(clusters_dir, "_SUCCESS")):
        prior = spark.read.parquet(clusters_dir)
    else:
        prior = spark.createDataFrame([], _EMPTY_CLUSTERS)
    updated = link_increment(clean, batch, prior, verify=verify)
    updated.write.mode("overwrite").parquet(tmp)
    _swap(spark, tmp, clusters_dir)


def _swap(spark, tmp: str, clusters_dir: str) -> None:
    spark.read.parquet(tmp).write.mode("overwrite").parquet(clusters_dir)
    delete_path(spark, tmp)


def stream_link_increment(clean: DataFrame, dirty_stream: DataFrame,
                          clusters_dir: str, checkpoint_dir: str,
                          verify: bool = False):
    """Start the incremental-linkage stream; returns the StreamingQuery.

    ``dirty_stream`` is a streaming DataFrame of dirty page records
    (rid, url, text, lang, warc_ts). Each micro-batch runs one
    ``fold_batch``. Use ``trigger(availableNow=True)`` semantics by
    awaiting termination for drain-style runs."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fold_batch(clean, batch_df, clusters_dir, verify=verify)

    return (
        dirty_stream.writeStream
        .foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
