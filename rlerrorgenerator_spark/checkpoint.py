"""Stage checkpoint / resume.

The reference "checkpoints" by writing RDS snapshots of every intermediate
(`/root/reference/benchmarking/utils.R:504-641`,
`paper_flow_dob_latest.Rmd:91-140`). Here: staged table writes +
idempotent skip-if-exists, which is the north rule's "resumable from
checkpoint". The storage format is selected by ``SPARK_GRAFT_CKPT_FORMAT``
(default ``parquet``): on a deployment whose SparkSession has an Iceberg
catalog configured (``spark.sql.catalog.* = org.apache.iceberg.spark.*``
plus the runtime jar), ``SPARK_GRAFT_CKPT_FORMAT=iceberg`` routes every
``stage()``/``load()`` through ``df.write.format('iceberg')`` — the write
API is format-agnostic, so nothing else changes. The sandbox has no
Iceberg runtime jar, so tests exercise the parquet path and the format
resolution itself. Inside iterative loops ``localCheckpoint`` truncates
lineage instead (cheaper, no durability needed between rounds).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, asked of the Hadoop FileSystem that
    writes it, so ``file://``, ``hdfs://`` or object store URIs resolve
    the same way the write did (``os.path`` sees only plain paths)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p)


class CheckpointManager:
    """Write-once staged tables under ``base_dir``; resume = read-back.

    ``base_dir=None`` → volatile mode: ``localCheckpoint`` only (tests).
    """

    def __init__(self, spark: SparkSession, base_dir: str | None = None,
                 fmt: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        # explicit fmt wins; else the SPARK_GRAFT_CKPT_FORMAT env gate
        # (module docstring) — 'iceberg' on catalog-configured clusters
        self.fmt = fmt or os.environ.get("SPARK_GRAFT_CKPT_FORMAT",
                                         "parquet")

    def _path(self, name: str) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        """Whether stage ``name`` was committed (:func:`path_exists` on
        its commit marker)."""
        if self.base_dir is None:
            return False
        # path-based Iceberg tables mark commit state in metadata/, not a
        # _SUCCESS flag
        marker = "metadata" if self.fmt == "iceberg" else "_SUCCESS"
        return path_exists(self.spark, os.path.join(self._path(name), marker))

    def load(self, name: str) -> DataFrame:
        return self.spark.read.format(self.fmt).load(self._path(name))

    def stage(self, df: DataFrame, name: str, partition_by: list[str] | None = None,
              with_partition_metrics: bool = False) -> DataFrame:
        """Materialize ``df`` as stage ``name`` (skip if already written)
        and return the durable re-read. Volatile mode → localCheckpoint.

        ``with_partition_metrics`` also writes per-partition row counts to
        ``<name>__metrics`` (north rule: per-partition lineage + metrics).
        """
        if self.base_dir is None:
            return df.localCheckpoint(eager=True)
        if not self.exists(name):
            w = df.write.mode("overwrite").format(self.fmt)
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.save(self._path(name))
            if with_partition_metrics:
                out = self.load(name)
                (out.groupBy(F.spark_partition_id().alias("partition_id"))
                    .count()
                    .write.mode("overwrite").format(self.fmt)
                    .save(self._path(name + "__metrics")))
        return self.load(name)
