"""Driver-graded Structured Streaming queries — oracle-hash-matched.

The two streaming operator families (custom stateful sessionization via
``applyInPandasWithState``; incremental linkage via ``foreachBatch``, one
``plans.pipeline.link_into`` step per micro-batch: the linkage plan,
``resolve_cascade`` and the registry MERGE) previously had only pytest
evidence.
Each wrapper here gives them the standard ``(spark, sf_dir) -> DataFrame``
driver surface whose result is BYTE-COMPARABLE to the same DuckDB oracle as
its batch twin — the hardest correctness gate available:

- the input table is split into deterministic micro-batch FILES (so state
  must survive real batch boundaries, exactly-once seams must hold),
- the stream runs to completion with ``trigger(availableNow=True)``,
- and the collected output must hash-match the batch oracle.

A streaming engine whose answers equal the batch engine's on the same
input is what lets a batch consumer move to incremental runs: O(new data)
work per run at equal output.

Scale notes: the per-batch file split is a test-harness artifact — in
production the source is an Iceberg/Kafka stream and the same code runs
unchanged. Nothing here collects to the driver except O(1) cut points.
"""

from __future__ import annotations

import atexit
import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .incremental import TRANSCRIPT_SCHEMA, incremental_linkage
from .stateful import SESSION_GAP_SECONDS, sessionize_stream

_EVENT_COLS = "user_id bigint, event_id bigint, ts timestamp, value double"


def _stage_file(df: DataFrame, stage_dir: str, in_dir: str, name: str, seq: int) -> None:
    """Write ``df`` as ONE parquet file ``in_dir/name`` with mtime ``seq``.

    FileStreamSource orders files by modification time (then path); pinning
    strictly increasing mtimes makes the micro-batch order deterministic so
    the run is reproducible — the driver hash-compares, not approximates.
    """
    d = os.path.join(stage_dir, name)
    df.coalesce(1).write.parquet(d)
    (part,) = glob.glob(os.path.join(d, "part-*.parquet"))
    dst = os.path.join(in_dir, f"{name}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (1_000_000_000 + seq, 1_000_000_000 + seq))


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization; output == the batch sessionize oracle.

    The events table is split at its exact ts tertiles into three
    time-contiguous micro-batch files, so roughly two thirds of all
    sessions are OPEN in managed state at a batch boundary and must be
    carried, not re-derived. Two trailing sentinel events for a reserved
    user (< 0, filtered from the output) push the event-time watermark past
    ``max(ts) + gap``, which fires the event-time timeout for every real
    user and flushes their trailing sessions — afterwards the closed-session
    set is TOTAL and must equal the batch computation row for row
    (oracle: ``oracle_tpch.REL_SESSIONIZE``, same as ``rel_sessionize``).
    """
    ev = (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        # the parquet ts is TIMESTAMP_NTZ; the state-store watermark (and
        # unix_micros) need TIMESTAMP — the output carries no timestamps, so
        # the fixed session-tz offset cancels out of every gap comparison
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    us = F.unix_micros(F.col("ts"))
    cuts = ev.select(
        F.expr(
            "percentile(unix_micros(ts), array(0.3333, 0.6667))"
        ).alias("q"),
        F.max(us).alias("mx"),
    ).first()
    t1, t2 = (int(v) for v in cuts["q"])
    max_us = int(cuts["mx"])

    work = tempfile.mkdtemp(prefix="stream_sessionize_")
    in_dir = os.path.join(work, "in")
    stage = os.path.join(work, "stage")
    os.makedirs(in_dir)
    _stage_file(ev.filter(us <= t1), stage, in_dir, "b0", 0)
    _stage_file(ev.filter((us > t1) & (us <= t2)), stage, in_dir, "b1", 1)
    _stage_file(ev.filter(us > t2), stage, in_dir, "b2", 2)
    # sentinels: ts far enough out that watermark(= sentinel - delay) clears
    # every real timeout (last_ts + gap); the SECOND sentinel batch is where
    # the timeouts actually fire (timeouts use the previous batch's watermark)
    margin_us = (SESSION_GAP_SECONDS + 3 * 3600) * 1_000_000
    for i in (0, 1):
        sent = spark.range(1).select(
            F.lit(-1).cast("bigint").alias("user_id"),
            F.lit(-1 - i).cast("bigint").alias("event_id"),
            F.timestamp_micros(F.lit(max_us + margin_us * (i + 1))).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        _stage_file(sent, stage, in_dir, f"s{i}", 3 + i)

    stream = (
        spark.readStream.schema(_EVENT_COLS)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    name = f"stream_sessionize_{uuid.uuid4().hex}"
    q = (
        sessionize_stream(stream, event_time_timeout=True)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(600)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        # a silent partial result would grade as a wrong answer — and the
        # cleanup below must never run under a still-executing query
        q.stop()
        raise TimeoutError("stream_sessionize did not finish within 600s")
    # memory sink has materialized; the staged inputs can go
    shutil.rmtree(work, ignore_errors=True)
    return (
        spark.table(name)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            # stream state counts sessions from 0; the batch oracle's
            # running-sum formulation counts from 1
            (F.col("sess_idx") + F.lit(1)).cast("bigint").alias("sess_idx"),
            "n_events",
            "session_value",
        )
    )


def stream_incremental_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental linkage over two micro-batches; output == the batch resolve oracle.

    Transcripts are split into two files by a hash of the BASE conv id
    (``substring(conv_id, 1, 11)`` — variants ``*_v1/_v2/_v3/_d1`` share
    their base's prefix), so every true entity's members arrive in the same
    micro-batch while the registry still mediates everything across batches:
    epoch 1 resolves against (and extends) the registry epoch 0 wrote,
    through ``link_into`` as ``cli link`` does. The result is the union of
    the epochs' ``resolved`` tables (``out/epoch=<n>/resolved``).

    Entity ids minted at stage 'new' are content-derived (md5 of cluster
    signature, ``operators/resolve.py``), so while no epoch-1 cluster shares
    a ``sig``, ``prefix_key`` or ``syn_key`` with an epoch-0 entity — every
    row resolves at stage 'new', as at sf0.001, sf0.01 and sf0.1 — the union
    of per-epoch resolutions equals the one-shot batch resolution EXACTLY,
    and the same ``resolve_entities_sql()`` oracle as ``er_resolve_entities``
    grades it. A split that puts a prefix or synonym match across the epochs
    would resolve that cluster to the earlier entity's id instead, as a
    second ``cli link`` against the same registry does.
    """
    from ..data.transcripts import transcripts_df

    t = transcripts_df(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    )
    part = F.crc32(F.substring("conv_id", 1, 11)) % 2

    work = tempfile.mkdtemp(prefix="stream_inc_linkage_")
    # the returned frame reads out_dir lazily, so the tree lives until exit;
    # registered now so the failure and timeout paths below are covered too
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    in_dir = os.path.join(work, "in")
    out_dir = os.path.join(work, "out")
    stage = os.path.join(work, "stage")
    os.makedirs(in_dir)
    _stage_file(t.filter(part == 0), stage, in_dir, "b0", 0)
    _stage_file(t.filter(part == 1), stage, in_dir, "b1", 1)

    q = incremental_linkage(spark, in_dir, out_dir, os.path.join(work, "ck"))
    finished = q.awaitTermination(900)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        q.stop()
        raise TimeoutError(
            "stream_incremental_linkage did not finish within 900s"
        )
    return spark.read.parquet(os.path.join(out_dir, "epoch=*", "resolved")).select(
        "conv_id", "cluster_id", "entity_id"
    )
