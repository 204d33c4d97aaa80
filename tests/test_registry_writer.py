"""The pluggable registry MERGE seam (sources/registry_writer.py).

The parquet backend (the append-delta registry ``cli link`` and the stream
share) must read as the registry plus the batch's additions and be
idempotent; the Iceberg backend runs only when
the jar + a configured catalog exist (skip-marker otherwise — the sandbox
has no Iceberg jar, see SCALE.md).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from addressparser_spark.data.transcripts import demo_registry, transcripts_df
from addressparser_spark.operators.blocking import conv_profiles, normalize_turns
from addressparser_spark.operators.resolve import (
    cascade_registry_additions,
    resolve_cascade,
)
from addressparser_spark.plans.pipeline import run_linkage
from addressparser_spark.sources.registry_writer import (
    IcebergRegistryWriter,
    ParquetRegistryWriter,
    registry_writer,
)
from addressparser_spark.sources.tables import TableStore, iceberg_available


@pytest.fixture(scope="module")
def linked(spark, sf_dir):
    t = transcripts_df(spark, sf_dir)
    result = run_linkage(t)
    profiles = result.profiles
    registry = demo_registry(profiles)
    resolved = resolve_cascade(result.clusters, profiles, registry).cache()
    resolved.count()
    return resolved, registry


def _rows(df):
    return {tuple(r) for r in df.select(sorted(df.columns)).collect()}


def test_parquet_merge_matches_inplan_emulation(spark, tmp_path, linked):
    resolved, registry = linked
    writer = ParquetRegistryWriter(TableStore(spark, str(tmp_path)))
    writer.merge(registry)  # seed
    additions = cascade_registry_additions(resolved, registry)
    writer.merge(additions)
    # MERGE ... WHEN NOT MATCHED THEN INSERT: the registry rows verbatim,
    # plus the additions
    assert _rows(writer.read()) == _rows(registry.unionByName(additions))


def test_parquet_merge_idempotent(spark, tmp_path, linked):
    resolved, registry = linked
    writer = ParquetRegistryWriter(TableStore(spark, str(tmp_path)))
    writer.merge(registry)  # seed
    additions = cascade_registry_additions(resolved, registry)
    writer.merge(additions)
    once = _rows(writer.read())
    assert len(once) > len(_rows(registry))  # the batch added something
    writer.merge(additions)  # re-merge the same batch: WHEN NOT MATCHED -> no-op
    assert _rows(writer.read()) == once


def test_parquet_read_upgrades_legacy_schema(spark, tmp_path):
    writer = ParquetRegistryWriter(TableStore(spark, str(tmp_path)))
    legacy = spark.createDataFrame(
        [("e1", "conv_1", "s1")], "entity_id string, rep_conv_id string, sig string"
    )
    writer.merge(legacy)  # a delta in the pre-cascade layout
    reg = writer.read()
    assert {"prefix_key", "syn_key"} <= set(reg.columns)
    row = reg.collect()[0]
    assert row["prefix_key"] is None and row["syn_key"] is None


def test_selector_falls_back_to_parquet(spark, tmp_path):
    # no iceberg_table requested -> parquet backend regardless of classpath
    w = registry_writer(spark, TableStore(spark, str(tmp_path)))
    assert isinstance(w, ParquetRegistryWriter)


def test_iceberg_merge_into(spark, tmp_path, linked):
    """Real MERGE INTO — runs only on a deployment with the Iceberg jar AND
    a configured catalog; the sandbox has neither, so this records a skip
    marker rather than silently passing."""
    if not iceberg_available(spark):
        pytest.skip("Iceberg Spark runtime jar not on the classpath (sandbox)")
    catalogs = [
        k for k in ("spark.sql.catalog.local", "spark.sql.catalog.spark_catalog")
        if (spark.conf.get(k, None) or "").endswith("SparkCatalog")
    ]
    if not catalogs:
        pytest.skip("no Iceberg catalog configured on this session")
    resolved, registry = linked
    table = "local.db.test_registry"
    writer = IcebergRegistryWriter(spark, table)
    writer.merge(registry)  # seed
    additions = cascade_registry_additions(resolved, registry)
    writer.merge(additions)
    once = _rows(writer.read())
    writer.merge(additions)
    assert _rows(writer.read()) == once
    assert once == _rows(registry.unionByName(additions))
    spark.sql(f"DROP TABLE IF EXISTS {table}")
