"""Canonical entity registry: resolve clusters to stable entity ids.

Analog of the reference's ``dbo.Addresses`` registry + ``MergeAddress``
upsert (``Db/DataContextBase_Address.cs:359-440``): a batch's clusters are
matched against the already-known registry by :func:`resolve_cascade`, the
engine's one resolver — key equality at full signature strength first, then
at the weaker prefix and synonym strengths (the reference's fallback
cascade, ``Parser.cs:867-936``); clusters that miss at every stage get new
deterministic entity ids. ``cli link`` and every streaming micro-batch
resolve through it once, in their one link step
(``plans.pipeline.link_into``), over the one registry schema,
:data:`CASCADE_REGISTRY_SCHEMA`; the step's registry additions
(:func:`cascade_registry_additions`) are a projection of the resolved rows,
which carry their representative's keys. In production the registry is an
Iceberg table and the write is a ``MERGE INTO``; here the same semantics
are expressed as broadcast joins + an anti-join, appended as a registry
delta (``sources/registry_writer.py``), so the sandbox (no Iceberg jar) can
run it.

Determinism: a new entity id is ``md5('entity|' + cluster signature)``, never
``uuid()`` — reruns and resumed runs assign identical ids (the reference's
IDENTITY column is replaced by a content-derived key, which also dedupes
across concurrent batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .blocking import synonym_key_col

# the registry: any key column may be NULL (an entry known only at a weaker
# key strength)
CASCADE_REGISTRY_SCHEMA = (
    "entity_id string, rep_conv_id string, sig string, prefix_key string, "
    "syn_key string"
)

# the columns of every written ``resolved`` table
RESOLVED_COLUMNS = ("conv_id", "cluster_id", "entity_id", "resolve_stage")

# the values of ``resolve_cascade``'s ``resolve_stage``, strongest first
RESOLVE_STAGES = ("sig", "prefix", "synonym", "new")


def profile_keys(profiles: DataFrame) -> DataFrame:
    """(conv_id, sig, prefix_key, syn_key): the three cascade key strengths.

    ``syn_key`` is the 'syn' blocking family's key
    (``blocking.synonym_key_col``) — the weakest key: two texts differing
    only by dictionary variants share it.
    """
    return profiles.select(
        "conv_id", "sig", "prefix_key", synonym_key_col(F.col("tokens")).alias("syn_key")
    )


def resolve_cascade(
    clusters: DataFrame, profiles: DataFrame, registry: DataFrame
) -> DataFrame:
    """(conv_id, cluster_id, entity_id, resolve_stage, sig, prefix_key,
    syn_key): multi-stage resolve; the three keys are those of the row's
    cluster representative (its ``cluster_id`` conversation), the keys a new
    entity is registered under. The first four columns are the contract
    every written ``resolved`` table projects.

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
        "sig",
        "prefix_key",
        "syn_key",
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
        *RESOLVED_COLUMNS, "sig", "prefix_key", "syn_key"
    )


def cascade_registry_additions(resolved: DataFrame, registry: DataFrame) -> DataFrame:
    """This batch's NEW entities (``resolve_stage == 'new'``), keyed at FULL
    strength (sig + prefix_key + syn_key of the cluster representative), so a
    later batch can hit them at any stage of the funnel. ``resolved`` is
    :func:`resolve_cascade`'s output, which carries those keys, so this is a
    projection of its representative rows. Rows already in the registry (by
    ``entity_id``) are excluded — this is the USING side of the production
    ``MERGE INTO``, O(batch) regardless of registry size. A cluster resolved
    at a weaker stage adds nothing: the registry keeps its original entry,
    as the reference's crosswalk never rewrites a resolved row
    (``Db/DataContextBase_Address.cs:131-173``).
    """
    return (
        resolved.filter(
            (F.col("resolve_stage") == "new")
            & (F.col("conv_id") == F.col("cluster_id"))
        )
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
