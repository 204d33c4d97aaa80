"""Incremental linkage via Structured Streaming.

Two streaming shapes:

1. :func:`incremental_linkage` — ``readStream`` over a transcripts directory;
   each micro-batch runs ``run_linkage`` (the same light->heavy funnel as
   ``cli link``) in ``foreachBatch``, resolves through ``resolve_cascade``
   (the same resolver and registry schema as ``cli link``) and then extends
   the persistent entity registry — the streaming MERGE pattern.
   ``foreachBatch`` is the exactly-once seam: the resolved output is
   per-epoch and overwrite-idempotent, the registry is insert-only and
   deduped on read, and entity ids are content-derived (md5 of signature,
   see operators/resolve.py), so replaying a batch after failure converges
   to the same state.

2. :func:`turn_rate_stream` — watermarked sliding-window aggregation over
   turn arrivals (the windowed-agg + late-data operator family).

The registry is the ``registry`` table of the table store at
``tables_dir``, read and extended through
``sources.registry_writer.registry_writer`` as ``cli link`` does: each
batch appends only its additions as one delta (O(batch)), and a later
``cli link`` into the same store resolves against every entity the stream
registered, and vice versa. The layout and its crash-safe compaction are
``ParquetRegistryWriter``'s; a replayed epoch's rows dedupe on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.resolve import cascade_registry_additions, resolve_cascade
from ..plans.pipeline import LinkageResult, run_linkage
from ..sources.registry_writer import registry_writer
from ..sources.tables import TableStore

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def link_batch(
    batch: DataFrame, registry: DataFrame
) -> tuple[DataFrame, DataFrame, LinkageResult]:
    """Run ``run_linkage`` on one micro-batch and resolve it against the
    current registry, as ``cli link`` does.

    Returns ``(resolved, additions, result)``. ``resolved`` comes from
    ``resolve_cascade``, so a cluster that shares only its ``prefix_key`` or
    ``syn_key`` with an entity an earlier batch registered takes that
    entity's id at that stage. ``additions`` are the O(batch) registry delta
    rows (see ``cascade_registry_additions``) — the registry writer appends
    them as one delta. ``result`` holds the frames ``run_linkage``
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
    tables_dir: str,
    checkpoint_dir: str,
):
    """Streaming query: new transcript files -> resolved entities, registry grows.

    The registry is ``<tables_dir>/registry``, the table ``cli link
    --output <tables_dir>`` reads and extends. Returns the StreamingQuery
    (caller drives with processAllAvailable/stop).
    """
    writer = registry_writer(spark, TableStore(spark, tables_dir))

    def process(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        registry = writer.read()
        resolved, additions, result = link_batch(batch, registry)
        # unpersist in finally: a long-running stream otherwise accumulates
        # one set of persisted linkage frames per epoch in the block manager
        try:
            # per-epoch overwrite => replaying an epoch after a crash rewrites
            # the same dir instead of appending duplicates
            resolved.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch_id}")
            # registry: append ONLY this batch's additions (O(batch))
            writer.merge(additions)
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
