"""Canonical entity registry: resolve clusters to stable entity ids.

Analog of the reference's ``dbo.Addresses`` registry + ``MergeAddress``
upsert (``Db/DataContextBase_Address.cs:359-440``): a batch's clusters are
matched against the already-known registry by :func:`resolve_cascade`, the
engine's one resolver — key equality at full signature strength first, then
at the weaker prefix and synonym strengths (the reference's fallback
cascade, ``Parser.cs:867-936``); clusters that miss at every stage get new
deterministic entity ids. ``cli link`` and every streaming micro-batch
resolve through it over the one registry schema,
:data:`CASCADE_REGISTRY_SCHEMA`. In production the registry is an Iceberg
table and the write is a ``MERGE INTO``; here the same semantics are
expressed as broadcast-join + anti-join + union so the sandbox (no Iceberg
jar) can run it.

Determinism: a new entity id is ``md5('entity|' + cluster signature)``, never
``uuid()`` — reruns and resumed runs assign identical ids (the reference's
IDENTITY column is replaced by a content-derived key, which also dedupes
across concurrent batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the registry: any key column may be NULL (an entry known only at a weaker
# key strength)
CASCADE_REGISTRY_SCHEMA = (
    "entity_id string, rep_conv_id string, sig string, prefix_key string, "
    "syn_key string"
)

# the values of ``resolve_cascade``'s ``resolve_stage``, strongest first
RESOLVE_STAGES = ("sig", "prefix", "synonym", "new")


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


def cascade_registry_additions(
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame
) -> DataFrame:
    """This batch's NEW entities (``resolve_stage == 'new'``), keyed at FULL
    strength (sig + prefix_key + syn_key of the cluster representative), so a
    later batch can hit them at any stage of the funnel. Rows already in the
    registry (by ``entity_id``) are excluded — this is the USING side of the
    production ``MERGE INTO``, O(batch) regardless of registry size.
    """
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
    resolved: DataFrame, profiles: DataFrame, registry: DataFrame
) -> DataFrame:
    """Cascade-registry MERGE emulation: existing rows kept verbatim; this
    batch's additions (see :func:`cascade_registry_additions`) appended.

    In production this is one ``MERGE INTO`` on ``entity_id`` (see
    ``sources/registry_writer.py`` for the pluggable writer seam);
    anti-join+union is the engine-agnostic equivalent. Entities resolved at a weaker stage ('prefix'/'synonym')
    are NOT re-keyed — the registry keeps its original entry, mirroring the
    reference's crosswalk which never rewrites a resolved row
    (``Db/DataContextBase_Address.cs:131-173``).
    """
    return registry.unionByName(
        cascade_registry_additions(resolved, profiles, registry)
    )
