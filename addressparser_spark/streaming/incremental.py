"""Incremental linkage via Structured Streaming.

Two streaming shapes:

1. :func:`incremental_linkage` — ``readStream`` over a transcripts directory;
   each micro-batch runs ``run_linkage`` (the same light->heavy funnel as
   ``cli link``) in ``foreachBatch``, resolves through ``resolve_cascade``
   (the same resolver and registry schema as ``cli link``) and then extends
   the persistent entity registry — the streaming MERGE pattern.
   ``foreachBatch`` is the exactly-once seam: every on-disk write is
   per-epoch and overwrite-idempotent, and entity ids are content-derived
   (md5 of signature, see operators/resolve.py), so replaying a batch after
   failure converges to the same state.

2. :func:`turn_rate_stream` — watermarked sliding-window aggregation over
   turn arrivals (the windowed-agg + late-data operator family).

Registry layout (the Iceberg-table emulation, crash-safe and O(batch) per
write instead of O(registry)):

    registry_dir/
      _CURRENT              <- name of the live base snapshot (atomic rename)
      base_v<epoch>/        <- compacted snapshot (parquet)
      delta_epoch=<id>/     <- per-epoch additions (parquet, overwrite)

A batch appends only its additions as ``delta_epoch=<id>`` (replay
overwrites the same dir — idempotent). Every ``COMPACT_EVERY`` deltas the
union is rewritten as a new base and ``_CURRENT`` is flipped via atomic
rename; old deltas/base are removed only AFTER the flip. A crash at any
point leaves either the old pointer (deltas still present) or the new one —
``_load_registry`` unions base+deltas and dedupes by ``entity_id``, so both
states read identically. Every directory reads through ``read_registry``,
so deltas and bases written in the pre-cascade ``sig``-only layout read
next to current ones, their weaker keys NULL. On Iceberg this whole dance
is ``MERGE INTO`` + snapshot expiry; the layout above is the same semantics
on a plain object store.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resolve import cascade_registry_additions, resolve_cascade
from ..plans.pipeline import LinkageResult, run_linkage
from ..sources.registry_writer import read_registry

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

COMPACT_EVERY = 8  # deltas accumulated before folding into a new base


def _registry_parts(registry_dir: str) -> tuple[str | None, list[str]]:
    base = None
    cur = os.path.join(registry_dir, "_CURRENT")
    if os.path.isfile(cur):
        with open(cur) as f:
            name = f.read().strip()
        cand = os.path.join(registry_dir, name)
        if os.path.isdir(cand):
            base = cand
    deltas = sorted(glob.glob(os.path.join(registry_dir, "delta_epoch=*")))
    return base, deltas


def _load_registry(spark: SparkSession, registry_dir: str) -> DataFrame:
    base, deltas = _registry_parts(registry_dir)
    dirs = ([base] if base else []) + deltas
    # entity_id is content-derived, so dedup makes any crash state (delta
    # survived but compaction half-done, or vice versa) read identically
    return read_registry(spark, dirs).dropDuplicates(["entity_id"])


def _maybe_compact(spark: SparkSession, registry_dir: str, epoch_id: int) -> None:
    """Fold base+deltas into a new base snapshot once enough deltas pile up.

    Order is the crash-safety contract: (1) write the new base, (2) flip
    ``_CURRENT`` via atomic rename, (3) only then delete superseded
    deltas/base. A crash before (2) leaves the old pointer + all deltas; a
    crash before (3) leaves extra dirs whose rows dedupe away on read.
    """
    base, deltas = _registry_parts(registry_dir)
    if len(deltas) < COMPACT_EVERY:
        return
    new_name = f"base_v{epoch_id:06d}"
    new_base = os.path.join(registry_dir, new_name)
    _load_registry(spark, registry_dir).write.mode("overwrite").parquet(new_base)
    tmp = os.path.join(registry_dir, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(new_name)
    os.replace(tmp, os.path.join(registry_dir, "_CURRENT"))  # atomic flip
    for d in deltas:
        shutil.rmtree(d, ignore_errors=True)
    if base and base != new_base:
        shutil.rmtree(base, ignore_errors=True)


def link_batch(
    batch: DataFrame, registry: DataFrame
) -> tuple[DataFrame, DataFrame, LinkageResult]:
    """Run ``run_linkage`` on one micro-batch and resolve it against the
    current registry, as ``cli link`` does.

    Returns ``(resolved, additions, result)``. ``resolved`` comes from
    ``resolve_cascade``, so a cluster that shares only its ``prefix_key`` or
    ``syn_key`` with an entity an earlier batch registered takes that
    entity's id at that stage. ``additions`` are the O(batch) registry delta
    rows (see ``cascade_registry_additions``) — the streaming writer appends
    them as a per-epoch delta. ``result`` holds the frames ``run_linkage``
    persisted; the caller must ``unpersist()`` it once the epoch's actions
    have run. Registry lookup is the broadcast reference-dictionary join.
    """
    result = run_linkage(batch)
    resolved = resolve_cascade(result.clusters, result.profiles, registry)
    additions = cascade_registry_additions(resolved, result.profiles, registry)
    return resolved, additions, result


def incremental_linkage(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    registry_dir: str,
    checkpoint_dir: str,
):
    """Streaming query: new transcript files -> resolved entities, registry grows.

    Returns the StreamingQuery (caller drives with processAllAvailable/stop).
    """

    def process(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        registry = _load_registry(spark, registry_dir)
        resolved, additions, result = link_batch(batch, registry)
        # unpersist in finally: a long-running stream otherwise accumulates
        # one set of persisted linkage frames per epoch in the block manager
        try:
            # per-epoch overwrite => replaying an epoch after a crash rewrites
            # the same dir instead of appending duplicates
            resolved.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch_id}")
            # registry: append ONLY this batch's additions (O(batch), idempotent)
            additions.write.mode("overwrite").parquet(
                os.path.join(registry_dir, f"delta_epoch={epoch_id}")
            )
            _maybe_compact(spark, registry_dir, epoch_id)
        finally:
            result.unpersist()

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def turn_rate_stream(spark: SparkSession, input_dir: str):
    """Watermarked 10-minute sliding window of turn counts per role."""
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    )
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
