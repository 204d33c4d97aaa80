"""Pluggable MERGE seam for the durable entity registry.

The reference upserts resolved entities with a T-SQL ``MERGE``
(``Db/DataContextBase_Address.cs:396-440``). The production analog here is
Iceberg ``MERGE INTO``; the sandbox has no Iceberg jar (verified in
SCALE.md), so the default backend expresses the identical semantics as
anti-join + union over a staged parquet table. Both backends implement one
interface, selected at runtime by classpath probe — every call site is
backend-agnostic, and a deployment with the Iceberg extension gets real
snapshot-isolated MERGE with zero engine changes.

MERGE semantics implemented (the only clause the pipeline needs):

    MERGE INTO registry r USING additions n
    ON r.entity_id <=> n.entity_id
    WHEN NOT MATCHED THEN INSERT *

Registry rows are immutable once written (the crosswalk never rewrites a
resolved row — ``Db/DataContextBase_Address.cs:131-173``), so there is no
WHEN MATCHED UPDATE clause to emulate.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resolve import CASCADE_REGISTRY_SCHEMA
from .tables import TableStore, iceberg_available


def read_registry(spark: SparkSession, paths: list[str]) -> DataFrame:
    """The registry rows stored under ``paths``, in ``CASCADE_REGISTRY_SCHEMA``.

    Read with the full schema, files written by the pre-cascade layout
    (``entity_id, rep_conv_id, sig`` only) come back with NULL ``prefix_key``
    and ``syn_key`` — key strengths that never hit — so they read side by
    side with current files, in one directory or across several. With no
    paths it is the empty registry: the false filter makes it an empty
    LocalRelation to Catalyst, which then prunes every join, aggregate and
    union over it (an empty registry costs no jobs) instead of scanning an
    empty parallelize.
    """
    if not paths:
        return spark.createDataFrame([], CASCADE_REGISTRY_SCHEMA).where(F.lit(False))
    return spark.read.schema(CASCADE_REGISTRY_SCHEMA).parquet(*paths)


class RegistryWriter:
    """Interface: read the current registry; merge a batch of additions.

    ``merge`` must be idempotent (re-merging the same additions is a no-op)
    and insert-only on ``entity_id`` — the deterministic content-derived id
    makes concurrent batches converge instead of duplicating.
    """

    def read(self) -> DataFrame:
        raise NotImplementedError

    def merge(self, additions: DataFrame) -> None:
        raise NotImplementedError


class ParquetRegistryWriter(RegistryWriter):
    """Sandbox/test backend: staged-overwrite parquet via :class:`TableStore`.

    ``merge`` is anti-join + union + stage-and-swap — the engine-agnostic
    equivalent of the MERGE above (same null-safe key, same insert-only
    semantics), atomic-enough through the store's staging replace.
    """

    name = "registry"

    def __init__(self, store: TableStore):
        self.store = store

    def read(self) -> DataFrame:
        paths = [self.store._path(self.name)] if self.store.exists(self.name) else []
        return read_registry(self.store.spark, paths)

    def merge(self, additions: DataFrame) -> None:
        current = self.read()
        merged = current.unionByName(
            additions.join(current.select("entity_id"), "entity_id", "left_anti")
        )
        self.store.replace(self.name, merged)


class IcebergRegistryWriter(RegistryWriter):
    """Production backend: real ``MERGE INTO`` on an Iceberg table.

    Requires the Iceberg Spark runtime jar AND a configured catalog
    (``spark.sql.catalog.<name>``) on the session — probe with
    :func:`iceberg_available` before constructing. Snapshot isolation
    replaces the reference's ``with (nolock)`` dirty reads
    (``Db/DataContextBase_AddrObject.cs:182-183``).
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {table} ({CASCADE_REGISTRY_SCHEMA}) USING iceberg"
        )

    def read(self) -> DataFrame:
        return self.spark.table(self.table)

    def merge(self, additions: DataFrame) -> None:
        # per-call view name: two concurrent merges on one SparkSession must
        # not clobber each other's source between view creation and MERGE
        view = f"__registry_additions_{uuid.uuid4().hex}"
        additions.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"MERGE INTO {self.table} r USING {view} n "
                "ON r.entity_id <=> n.entity_id "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)


def registry_writer(
    spark: SparkSession, store: TableStore, iceberg_table: str | None = None
) -> RegistryWriter:
    """Backend selection: Iceberg when the classpath + a table ident allow,
    parquet emulation otherwise. Call sites never branch on the backend."""
    if iceberg_table is not None and iceberg_available(spark):
        return IcebergRegistryWriter(spark, iceberg_table)
    return ParquetRegistryWriter(store)
