"""Table IO layer: catalog-style access with an Iceberg slot and parquet fallback.

The engine's durable tables (transcripts input, entity registry, cluster
output) are defined here behind one interface so the storage
backend is a deployment choice:

- **Iceberg** (production): snapshot isolation replaces the reference's
  ``with (nolock)`` dirty reads (`Db/DataContextBase_AddrObject.cs:182-183`),
  and MERGE INTO replaces the T-SQL MERGE (`Db/DataContextBase_Address.cs:396-440`).
  Activated when the runtime has the Iceberg Spark extension on the classpath.
- **Parquet directories** (sandbox/tests): one directory per table under
  the store's base, each write an overwrite. The entity registry is the
  one table that grows in place; ``registry_writer.ParquetRegistryWriter``
  keeps it as append-only deltas behind an atomic pointer.

Nothing else in the engine imports a storage library directly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parallel(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with a tiny-input parallelism guard.

    A single small file yields ONE scan partition, serializing all
    downstream per-row expression work onto a single core (measured 3x on
    the sf0.1 profile build). When the scan's file-level parallelism is
    below the cluster's default parallelism, repartition up; the check is
    driver-side metadata only (``inputFiles`` — no job, no Python->JVM RDD
    conversion), and at production scale the file count exceeds the core
    count so the branch never fires — no shuffle is added where the scan
    already parallelizes. (Files larger than ``maxPartitionBytes`` split
    into more scan partitions than files, so the file count is a lower
    bound — under-counting can only add the repartition, never skip a
    needed one.) Filters still push to the scan (Catalyst pushes
    predicates through Repartition).
    """
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        df = df.repartition(target)
    return df


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark extensions are on the JVM classpath."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class TableStore:
    """Minimal catalog: name -> durable table, parquet-dir backed here.

    On an Iceberg deployment, ``base`` becomes a catalog namespace and each
    method body is the corresponding ``writeTo``/``MERGE INTO`` call; method
    signatures (and therefore every call site) stay unchanged.
    """

    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base

    def _path(self, name: str) -> str:
        return os.path.join(self.base, name)

    def write(self, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self._path(name))
