"""Canonical entity registry: resolve clusters to stable entity ids.

Analog of the reference's ``dbo.Addresses`` registry + ``MergeAddress``
upsert (``Db/DataContextBase_Address.cs:359-440``): a batch's clusters are
matched against the already-known registry by signature (null-safe key
equality, the ``SetAddressId`` 6-key lookup analog); unmatched clusters get
new deterministic entity ids. In production the registry is an Iceberg table
and this stage is a ``MERGE INTO``; here the same semantics are expressed as
broadcast-join + anti-join + union so the sandbox (no Iceberg jar) can run it.

Determinism: a new entity id is ``md5('entity|' + cluster signature)``, never
``uuid()`` — reruns and resumed runs assign identical ids (the reference's
IDENTITY column is replaced by a content-derived key, which also dedupes
across concurrent batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REGISTRY_SCHEMA = "entity_id string, rep_conv_id string, sig string"

# extended registry for the multi-stage cascade: any key column may be NULL
# (a registry entry known only at a weaker key strength)
CASCADE_REGISTRY_SCHEMA = (
    "entity_id string, rep_conv_id string, sig string, prefix_key string, "
    "syn_key string"
)

# the values of ``resolve_cascade``'s ``resolve_stage``, strongest first
RESOLVE_STAGES = ("sig", "prefix", "synonym", "new")


def cluster_representatives(clusters: DataFrame, profiles: DataFrame) -> DataFrame:
    """(cluster_id, rep_conv_id, sig): one row per cluster.

    The representative is the cluster id itself (= min conv_id, stable), and
    the cluster signature is the representative's turn signature.
    """
    reps = clusters.select("cluster_id").distinct()
    return (
        reps.join(
            profiles.select(F.col("conv_id").alias("cluster_id"), "sig"),
            "cluster_id",
            "left",
        )
        .select(
            "cluster_id",
            F.col("cluster_id").alias("rep_conv_id"),
            "sig",
        )
    )


def resolve_entities(
    clusters: DataFrame, profiles: DataFrame, registry: DataFrame | None = None
) -> DataFrame:
    """(conv_id, cluster_id, entity_id): stable entity id per conversation.

    Known clusters (signature already in the registry) keep their entity id;
    new clusters mint ``md5('entity|' + sig)``. The registry side is
    broadcast — it is the reference-dictionary join the north star calls for
    (replacing the reference's per-row SQL lookups).
    """
    reps = cluster_representatives(clusters, profiles)
    if registry is not None and not registry.isEmpty():
        matched = reps.join(
            F.broadcast(registry.select("sig", "entity_id")), "sig", "left"
        )
    else:
        matched = reps.withColumn("entity_id", F.lit(None).cast("string"))
    resolved = matched.select(
        "cluster_id",
        F.coalesce(
            "entity_id", F.md5(F.concat(F.lit("entity|"), F.col("sig")))
        ).alias("entity_id"),
    )
    return clusters.join(resolved, "cluster_id").select(
        "conv_id", "cluster_id", "entity_id"
    )


def profile_keys(profiles: DataFrame) -> DataFrame:
    """(conv_id, sig, prefix_key, syn_key): the three cascade key strengths.

    ``syn_key`` is the synonym-canonical signature (same expression as the
    'syn' blocking family) — the weakest key: two texts differing only by
    dictionary variants share it.
    """
    from .blocking import canonical_tokens_col

    return profiles.select(
        "conv_id",
        "sig",
        "prefix_key",
        F.md5(F.array_join(canonical_tokens_col(F.col("tokens")), " ")).alias(
            "syn_key"
        ),
    )


def resolve_cascade(
    clusters: DataFrame, profiles: DataFrame, registry: DataFrame
) -> DataFrame:
    """(conv_id, cluster_id, entity_id, resolve_stage): multi-stage resolve.

    The reference resolves against a partially-populated registry by
    retrying at progressively weaker key strengths before giving up
    (majorness loop ``top = 4 -> 1`` with shrinking-suffix re-parses,
    ``AddressParser/Core/Parser.cs:867-936`` driving
    ``Db/DataContextBase_Address.cs:131-173``). Spark-first re-expression:
    three broadcast left joins — (sig) -> (prefix_key) -> (syn_key) — and a
    single ``coalesce`` picks the strongest hit; only a full miss mints a
    new deterministic id. ``resolve_stage`` records which stage fired
    ('sig' | 'prefix' | 'synonym' | 'new') so the funnel is observable.

    Each stage side is deduplicated to one entity per key (min entity_id,
    deterministic first-match) — a registry with key collisions can never
    fan out the join.
    """
    keys = profile_keys(profiles).withColumnRenamed("conv_id", "cluster_id")
    reps = clusters.select("cluster_id").distinct().join(keys, "cluster_id", "left")
    s1 = (
        registry.filter(F.col("sig").isNotNull())
        .groupBy("sig")
        .agg(F.min("entity_id").alias("e_sig"))
    )
    s2 = (
        registry.filter(F.col("prefix_key").isNotNull())
        .groupBy("prefix_key")
        .agg(F.min("entity_id").alias("e_prefix"))
    )
    s3 = (
        registry.filter(F.col("syn_key").isNotNull())
        .groupBy("syn_key")
        .agg(F.min("entity_id").alias("e_syn"))
    )
    m = (
        reps.join(F.broadcast(s1), "sig", "left")
        .join(F.broadcast(s2), "prefix_key", "left")
        .join(F.broadcast(s3), "syn_key", "left")
    )
    resolved = m.select(
        "cluster_id",
        F.coalesce(
            "e_sig",
            "e_prefix",
            "e_syn",
            F.md5(F.concat(F.lit("entity|"), F.col("sig"))),
        ).alias("entity_id"),
        F.when(F.col("e_sig").isNotNull(), "sig")
        .when(F.col("e_prefix").isNotNull(), "prefix")
        .when(F.col("e_syn").isNotNull(), "synonym")
        .otherwise("new")
        .alias("resolve_stage"),
    )
    return clusters.join(resolved, "cluster_id").select(
        "conv_id", "cluster_id", "entity_id", "resolve_stage"
    )


def demo_registry(profiles: DataFrame) -> DataFrame:
    """Deterministic partially-populated registry derived from the data.

    Buckets conversations by the first hex char of ``md5(conv_id)``:
    '0'-'3' are registered at full signature strength, '4'-'7' only at
    prefix strength, '8'-'b' only at synonym strength, 'c'-'f' are absent.
    Gives the cascade real work at every stage with zero external state —
    the DuckDB oracle rebuilds the identical registry from the same parquet.
    """
    k = profile_keys(profiles).withColumn(
        "h", F.substring(F.md5(F.col("conv_id")), 1, 1)
    )
    return k.filter(F.col("h") <= "b").select(
        F.md5(F.concat(F.lit("reg|"), F.col("conv_id"))).alias("entity_id"),
        F.col("conv_id").alias("rep_conv_id"),
        F.when(F.col("h") <= "3", F.col("sig")).alias("sig"),
        F.when((F.col("h") >= "4") & (F.col("h") <= "7"), F.col("prefix_key")).alias(
            "prefix_key"
        ),
        F.when(F.col("h") >= "8", F.col("syn_key")).alias("syn_key"),
    )


def registry_additions(
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame | None = None
) -> DataFrame:
    """Entities in this batch that are NOT yet in the registry.

    This is the write-side of the MERGE emulation: at scale the registry is
    huge and append-only, so a batch writes ONLY its additions (O(batch)),
    never a rewritten registry (O(registry)) — the streaming layer appends
    these as per-epoch delta files and compacts periodically.
    """
    spark = resolved.sparkSession
    new_entities = (
        resolved.filter(F.col("conv_id") == F.col("cluster_id"))
        .join(profiles.select("conv_id", "sig"), "conv_id")
        .select(
            "entity_id",
            F.col("conv_id").alias("rep_conv_id"),
            "sig",
        )
        .dropDuplicates(["entity_id"])
    )
    if registry is None:
        registry = spark.createDataFrame([], REGISTRY_SCHEMA)
    return new_entities.join(
        registry.select("sig").withColumn("__hit", F.lit(1)),
        "sig",
        "left_anti",
    ).select("entity_id", "rep_conv_id", "sig")


def merge_registry(
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame | None = None
) -> DataFrame:
    """The MERGE-INTO emulation: registry ∪ (new entities not yet present).

    Iceberg deployment note: this whole function is
    ``MERGE INTO registry r USING new n ON r.sig <=> n.sig
    WHEN NOT MATCHED THEN INSERT ...`` — anti-join+union is the
    engine-agnostic equivalent (same null-safe key semantics).
    """
    spark = resolved.sparkSession
    if registry is None:
        registry = spark.createDataFrame([], REGISTRY_SCHEMA)
    return registry.unionByName(registry_additions(resolved, profiles, registry))


def cascade_registry_additions(
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame | None = None
) -> DataFrame:
    """This batch's NEW entities (``resolve_stage == 'new'``), keyed at FULL
    strength (sig + prefix_key + syn_key of the cluster representative), so a
    later batch can hit them at any stage of the funnel. Rows already in the
    registry (by ``entity_id``) are excluded — this is the USING side of the
    production ``MERGE INTO``, O(batch) regardless of registry size.
    """
    spark = resolved.sparkSession
    if registry is None:
        registry = spark.createDataFrame([], CASCADE_REGISTRY_SCHEMA)
    return (
        resolved.filter(
            (F.col("resolve_stage") == "new")
            & (F.col("conv_id") == F.col("cluster_id"))
        )
        .join(profile_keys(profiles), "conv_id")
        .select(
            "entity_id",
            F.col("conv_id").alias("rep_conv_id"),
            "sig",
            "prefix_key",
            "syn_key",
        )
        .dropDuplicates(["entity_id"])
        .join(registry.select("entity_id"), "entity_id", "left_anti")
    )


def merge_registry_cascade(
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame | None = None
) -> DataFrame:
    """Cascade-registry MERGE emulation: existing rows kept verbatim; this
    batch's additions (see :func:`cascade_registry_additions`) appended.

    Same Iceberg note as :func:`merge_registry`: in production this is one
    ``MERGE INTO`` on ``entity_id`` (see ``sources/registry_writer.py`` for
    the pluggable writer seam); anti-join+union is the engine-agnostic
    equivalent. Entities resolved at a weaker stage ('prefix'/'synonym')
    are NOT re-keyed — the registry keeps its original entry, mirroring the
    reference's crosswalk which never rewrites a resolved row
    (``Db/DataContextBase_Address.cs:131-173``).
    """
    spark = resolved.sparkSession
    if registry is None:
        registry = spark.createDataFrame([], CASCADE_REGISTRY_SCHEMA)
    return registry.unionByName(
        cascade_registry_additions(resolved, profiles, registry)
    )
