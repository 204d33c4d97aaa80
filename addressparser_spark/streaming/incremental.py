"""Incremental linkage via Structured Streaming.

Two streaming shapes:

1. :func:`incremental_linkage` — ``readStream`` over a transcripts directory;
   each micro-batch runs the link step of ``cli link``,
   ``plans.pipeline.link_into`` (the linkage plan, one resolve through
   ``resolve_cascade``, the table writes, the registry merge and the
   metrics), in ``foreachBatch`` — the streaming MERGE pattern.
   ``foreachBatch`` is the exactly-once seam: each epoch's tables are
   per-epoch and overwrite-idempotent, the registry is insert-only and
   deduped on read, and entity ids are content-derived (md5 of signature,
   see operators/resolve.py), so replaying a batch after failure converges
   to the same state.

2. :func:`turn_rate_stream` — watermarked sliding-window aggregation over
   turn arrivals (the windowed-agg + late-data operator family).

Layout under the stream's output directory::

    registry/                 <- the registry ``cli link`` into the same
                                 directory reads and extends
    epoch=<n>/clusters/       <- each micro-batch's link step
    epoch=<n>/resolved/
    epoch=<n>/dropped_blocks/
    epoch=<n>/metrics.json

The registry is read and extended through
``sources.registry_writer.registry_writer`` as ``cli link`` does: each
batch appends only its additions as one delta (O(batch)), and a later
``cli link`` into the same directory resolves against every entity the
stream registered, and vice versa. The layout and its crash-safe compaction
are ``ParquetRegistryWriter``'s; a replayed epoch's rows dedupe on read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import link_into
from ..sources.registry_writer import registry_writer
from ..sources.tables import TableStore

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def incremental_linkage(
    spark: SparkSession, input_dir: str, output_dir: str, checkpoint_dir: str
):
    """Streaming query: new transcript files -> one link step per micro-batch.

    Epoch ``n`` writes ``<output_dir>/epoch=<n>/`` (``clusters``,
    ``resolved``, ``dropped_blocks``, ``metrics.json``) and extends
    ``<output_dir>/registry``, the registry ``cli link --output
    <output_dir>`` reads and extends. Returns the StreamingQuery (caller
    drives with processAllAvailable/stop).
    """
    writer = registry_writer(spark, TableStore(spark, output_dir))

    def process(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        # per-epoch overwrite => replaying an epoch after a crash rewrites
        # the same tables instead of appending duplicates
        epoch = TableStore(spark, os.path.join(output_dir, f"epoch={epoch_id}"))
        link_into(batch, epoch, writer)

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
