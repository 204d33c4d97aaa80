"""Streaming registry: append-delta writes, compaction, crash-state reads."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from addressparser_spark.data.transcripts import transcripts_df
from addressparser_spark.operators.resolve import CASCADE_REGISTRY_SCHEMA
from addressparser_spark.sources import registry_writer as rw
from addressparser_spark.sources.tables import TableStore
from addressparser_spark.streaming import incremental as inc


def _read(spark, out_dir):
    """The registry of the table store at ``out_dir``, as the writer reads it."""
    return rw.ParquetRegistryWriter(TableStore(spark, out_dir)).read()


def test_compaction_folds_deltas_and_flips_pointer(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(rw, "COMPACT_EVERY", 2)
    t = transcripts_df(spark, sf_dir)
    in_dir = str(tmp_path / "in")
    out_dir, ck_dir = str(tmp_path / "out"), str(tmp_path / "ck")
    reg_dir = os.path.join(out_dir, "registry")
    os.makedirs(in_dir)
    slices = [
        t.filter(F.col("conv_id") < "conv_000030"),
        t.filter((F.col("conv_id") >= "conv_000030") & (F.col("conv_id") < "conv_000060")),
        t.filter(F.col("conv_id") >= "conv_000060"),
    ]
    for i, s in enumerate(slices):
        d = str(tmp_path / f"stage{i}")
        s.coalesce(1).write.parquet(d)
        src = glob.glob(f"{d}/part-*.parquet")[0]
        shutil.copy(src, f"{in_dir}/batch_{i}.parquet")

    q = inc.incremental_linkage(spark, in_dir, out_dir, ck_dir)
    q.awaitTermination(180)

    # epoch 0 -> delta0; epoch 1 -> delta1, 2 deltas >= COMPACT_EVERY ->
    # compacted base, deltas removed; epoch 2 -> one fresh delta
    assert os.path.isfile(os.path.join(reg_dir, "_CURRENT"))
    with open(os.path.join(reg_dir, "_CURRENT")) as f:
        base_name = f.read().strip()
    assert os.path.isdir(os.path.join(reg_dir, base_name))
    deltas = glob.glob(f"{reg_dir}/delta_epoch=*")
    assert len(deltas) == 1, deltas

    registry = _read(spark, out_dir)
    n = registry.count()
    assert n == registry.select("sig").distinct().count()
    # registry covers every entity resolved across all epochs
    resolved = spark.read.parquet(f"{out_dir}/epoch=*/resolved")
    assert n == resolved.select("entity_id").distinct().count()


# the sig-only layout that stream deltas and bases had before the stream
# resolved through the cascade
LEGACY_SCHEMA = "entity_id string, rep_conv_id string, sig string"


def test_load_registry_dedupes_crash_state(spark, tmp_path):
    """Base + a not-yet-deleted delta holding the same entity reads as one row."""
    reg_dir = str(tmp_path / "registry")
    os.makedirs(reg_dir)
    row = [("e1", "c1", "sig1")]
    df = spark.createDataFrame(row, LEGACY_SCHEMA)
    df.write.parquet(os.path.join(reg_dir, "base_v000001"))
    df.write.parquet(os.path.join(reg_dir, "delta_epoch=5"))
    with open(os.path.join(reg_dir, "_CURRENT"), "w") as f:
        f.write("base_v000001")
    assert _read(spark, str(tmp_path)).count() == 1


def test_load_registry_reads_legacy_and_cascade_deltas(spark, tmp_path):
    """A sig-only delta and a cascade delta in one registry directory: every
    row reads, in the cascade schema, with NULL for the keys a file lacks."""
    reg_dir = str(tmp_path / "registry")
    spark.createDataFrame([("e1", "c1", "sig1")], LEGACY_SCHEMA).write.parquet(
        os.path.join(reg_dir, "delta_epoch=0")
    )
    spark.createDataFrame(
        [("e2", "c2", "sig2", "pk2", "sk2")], CASCADE_REGISTRY_SCHEMA
    ).write.parquet(os.path.join(reg_dir, "delta_epoch=1"))
    registry = _read(spark, str(tmp_path))
    assert registry.columns == [
        "entity_id", "rep_conv_id", "sig", "prefix_key", "syn_key"
    ]
    assert {tuple(r) for r in registry.collect()} == {
        ("e1", "c1", "sig1", None, None),
        ("e2", "c2", "sig2", "pk2", "sk2"),
    }
