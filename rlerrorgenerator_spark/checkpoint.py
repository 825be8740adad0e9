"""Stage checkpoint / resume.

The reference "checkpoints" by writing RDS snapshots of every intermediate
(`/root/reference/benchmarking/utils.R:504-641`,
`paper_flow_dob_latest.Rmd:91-140`). Here: staged parquet table writes +
idempotent skip-if-exists, which is the north rule's "resumable from
checkpoint". A stage counts as committed once its ``_SUCCESS`` marker
exists. Inside iterative loops ``localCheckpoint`` truncates lineage
instead (cheaper, no durability needed between rounds).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path``, from the Hadoop FileSystem
    that writes it, so ``file://``, ``hdfs://`` or object store URIs
    resolve the same way the write did (``os.path`` sees only plain
    paths)."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, for any URI the write accepts."""
    fs, p = _hadoop_path(spark, path)
    return fs.exists(p)


def delete_path(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is a no-op."""
    fs, p = _hadoop_path(spark, path)
    fs.delete(p, True)


class CheckpointManager:
    """Write-once staged tables under ``base_dir``; resume = read-back.

    ``base_dir=None`` → volatile mode: ``localCheckpoint`` only (tests).
    """

    def __init__(self, spark: SparkSession, base_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir

    def _path(self, name: str) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, name)

    def exists(self, name: str) -> bool:
        """Whether stage ``name`` was committed (:func:`path_exists` on
        its commit marker)."""
        if self.base_dir is None:
            return False
        return path_exists(self.spark, os.path.join(self._path(name), "_SUCCESS"))

    def load(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._path(name))

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
            df.write.mode("overwrite").parquet(self._path(name),
                                               partitionBy=partition_by)
            if with_partition_metrics:
                out = self.load(name)
                (out.groupBy(F.spark_partition_id().alias("partition_id"))
                    .count()
                    .write.mode("overwrite").parquet(self._path(name + "__metrics")))
        return self.load(name)
