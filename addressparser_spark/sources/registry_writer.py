"""Pluggable MERGE seam for the durable entity registry.

The reference upserts resolved entities with a T-SQL ``MERGE``
(``Db/DataContextBase_Address.cs:396-440``). The production analog here is
Iceberg ``MERGE INTO``; the sandbox has no Iceberg jar (verified in
SCALE.md), so the default backend expresses the identical semantics as
parquet deltas that are appended and deduped on ``entity_id`` when read
(``ParquetRegistryWriter``: the one parquet registry, which ``cli link``
and the stream both read and extend). Both backends implement one
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

import glob
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resolve import CASCADE_REGISTRY_SCHEMA
from .tables import TableStore, iceberg_available

COMPACT_EVERY = 8  # deltas accumulated before folding into a new base


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
    """Sandbox/test backend: an append-delta parquet registry under
    ``<store.base>/registry``, the layout ``cli link`` and every stream
    micro-batch read and extend:

        registry/
          _CURRENT              <- name of the live base snapshot (atomic rename)
          base_v<n>/            <- compacted snapshot
          delta_epoch=<n>/      <- one merge's additions

    ``merge`` writes only the batch's additions, as the delta numbered one
    past every delta and base present (O(batch), not O(registry)). Every
    ``COMPACT_EVERY`` deltas it folds base and deltas into a new base in the
    crash-safe order: (1) write the new base, (2) flip ``_CURRENT`` by
    atomic rename, (3) only then delete the deltas and bases it replaced. A
    crash before (2) leaves the old pointer and every delta; a crash before
    (3), or a replayed stream epoch, leaves rows twice. ``read`` unions the
    live base with every delta and dedupes by the content-derived
    ``entity_id``, so each of those states reads as the registry it holds.
    Live data is never removed before its replacement is in place. On
    Iceberg this is ``MERGE INTO`` plus snapshot expiry.
    """

    name = "registry"

    def __init__(self, store: TableStore):
        self.store = store

    def _dirs(self) -> tuple[str | None, list[str]]:
        """(the live base or None, every delta directory)."""
        root = self.store._path(self.name)
        cur = os.path.join(root, "_CURRENT")
        base = None
        if os.path.isfile(cur):
            with open(cur) as f:
                base = os.path.join(root, f.read().strip())
        base = base if base and os.path.isdir(base) else None
        return base, glob.glob(os.path.join(root, "delta_epoch=*"))

    def read(self) -> DataFrame:
        base, deltas = self._dirs()
        # entity_id is content-derived, so a row stored twice (a crash state
        # or a replayed epoch) is one entity and reads once
        return read_registry(
            self.store.spark, ([base] if base else []) + deltas
        ).dropDuplicates(["entity_id"])

    def merge(self, additions: DataFrame) -> None:
        root = self.store._path(self.name)
        base, deltas = self._dirs()
        seq = 1 + max(
            (int(re.search(r"\d+$", d)[0]) for d in deltas + ([base] if base else [])),
            default=-1,
        )
        deltas.append(f"{root}/delta_epoch={seq}")
        additions.write.mode("overwrite").parquet(deltas[-1])
        if len(deltas) < COMPACT_EVERY:
            return
        new_name = f"base_v{seq:06d}"
        self.read().write.mode("overwrite").parquet(f"{root}/{new_name}")
        with open(f"{root}/_CURRENT.tmp", "w") as f:
            f.write(new_name)
        os.replace(f"{root}/_CURRENT.tmp", f"{root}/_CURRENT")  # atomic flip
        # every row read above is in the new base: only now may the deltas
        # and older bases go (a base a crash left unflipped too)
        for d in deltas + glob.glob(f"{root}/base_v*"):
            if os.path.basename(d) != new_name:
                shutil.rmtree(d, ignore_errors=True)


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
