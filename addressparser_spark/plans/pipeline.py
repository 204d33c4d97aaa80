"""End-to-end linkage pipeline: normalize -> block -> pair -> score -> cluster,
and the one link step that resolves, writes and merges its result.

Mirrors the reference lifecycle (``Parser.ParseAddress``,
``AddressParser/Core/Parser.cs:93-153``) but set-based: where the reference
makes 5-8 synchronous DB round-trips *per input row* (SURVEY.md §3.1), every
stage here is one whole-DataFrame transformation, so the "lookup" cost is a
constant number of shuffles for the entire batch.

Lineage/metrics: each stage reports row counts + dropped-block accounting via
``observe()`` (no extra actions) into :class:`PipelineMetrics`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..operators import blocking, pairs as pairs_op, resolve, scoring
from ..operators.clustering import connected_components
from ..sources.registry_writer import RegistryWriter
from ..sources.tables import TableStore


def sig_representatives(profiles: DataFrame) -> DataFrame:
    """(conv_id, rep): every conversation mapped to its per-sig min conv_id."""
    w = Window.partitionBy("sig")
    return profiles.select("conv_id", F.min("conv_id").over(w).alias("rep"))


def funnel_clusters_from(profiles: DataFrame, heavy_edges: DataFrame) -> DataFrame:
    """(conv_id, cluster_id): light/heavy funnel clustering via contraction.

    Exact-duplicate (same-sig) stars are converged by construction — every
    member already points at the per-sig min — so sending them through the
    O(log n) connected-components loop is pure waste (they were ~95% of the
    edge volume). Instead the star is CONTRACTED: each heavy edge's
    endpoints are replaced by their sig representative, CC runs only on the
    contracted heavy-edge graph (tiny: one node per *distinct-content*
    conversation that matched something), and the mapping expands back
    through the rep.

    Contraction preserves labels exactly: every member's conv_id >= its
    rep's conv_id (rep = group min), so the min over a merged component of
    sig-groups equals the min over their reps — the same ``cluster_id`` the
    single-graph CC would emit (the driver oracle's recursive closure proves
    this equivalence).
    """
    rep = sig_representatives(profiles)
    edges = heavy_edges.select(F.col("src").alias("conv_a"), F.col("dst").alias("conv_b"))
    contracted = pairs_op.with_sides(
        edges, rep.withColumnRenamed("conv_id", "conv"), "conv"
    ).select(F.col("rep_a").alias("src"), F.col("rep_b").alias("dst"))
    comp = connected_components(contracted)
    return rep.join(
        comp.withColumnRenamed("node", "rep"), "rep", "left"
    ).select("conv_id", F.coalesce("component", "rep").alias("cluster_id"))


def heavy_pairs(blocks: DataFrame) -> DataFrame:
    """Heavy stage candidates: prefix + MinHash keys only, same-sig pairs
    dropped (the light stage already linked them).

    ``blocks`` is the full block table, persisted by the caller so the
    MinHash sketch runs once across its consumers. The block rows carry each
    side's ``sig``, so the same-sig filter reads the pair rows and never
    joins the profiles.
    """
    cand = pairs_op.candidate_pairs(blocks.filter(F.col("src") != "sig"))
    return cand.filter(F.col("sig_a") != F.col("sig_b")).select("conv_a", "conv_b")


@dataclass
class PipelineMetrics:
    counts: dict[str, int] = field(default_factory=dict)
    observations: dict[str, tuple[Observation, DataFrame, list[Column]]] = field(
        default_factory=dict
    )

    def observe(self, df: DataFrame, name: str, **counts: Column) -> DataFrame:
        """``df`` observed under ``name``: each ``counts`` column is the
        metric ``<name>.<key>`` once the frame has run."""
        aggs = [c.alias(k) for k, c in counts.items()]
        obs = Observation(name)
        self.observations[name] = (obs, df, aggs)
        return df.observe(obs, *aggs)

    def resolve(self) -> dict[str, int]:
        for name, (obs, df, aggs) in self.observations.items():
            # the first query whose plan holds an observed frame completes
            # its observation. When AQE prunes the frame from that query (an
            # input with no candidate pairs has no matched edges, so the
            # first clustering query runs neither the profiles nor the
            # scored pairs), the observation completes with an empty row,
            # and Observation.get fails converting it. The counts are then
            # aggregated from the frame itself, at the cost of its jobs
            try:
                row = obs.get
            except Py4JJavaError:
                row = df.agg(*aggs).first().asDict()
            for k, v in row.items():
                self.counts[f"{name}.{k}"] = int(v)
        self.observations.clear()
        return dict(self.counts)


def partition_histogram(df: DataFrame) -> list[dict[str, int]]:
    """Per-partition row counts — the lineage signal for skew diagnosis.

    One extra job over the (usually cached) frame; rows-per-partition spread
    is what tells an operator whether salting/AQE actually balanced a stage.
    """
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("pid")
        .collect()
    )
    return [{"partition": int(r["pid"]), "rows": int(r["rows"])} for r in rows]


@dataclass
class LinkageResult:
    profiles: DataFrame
    blocks: DataFrame
    dropped_blocks: DataFrame
    pairs: DataFrame
    scored: DataFrame
    clusters: DataFrame
    metrics: PipelineMetrics

    def unpersist(self) -> None:
        """Release every frame ``run_linkage`` persisted, and any of
        ``clusters``, ``pairs`` and ``scored`` the caller persisted."""
        for df in (self.clusters, self.scored, self.pairs, self.blocks, self.profiles):
            df.unpersist()


def run_linkage(transcripts: DataFrame) -> LinkageResult:
    """The linkage plan: normalize -> profile -> block -> pair -> score ->
    cluster, as a light->heavy funnel.

    Exact duplicates (same ``sig``) resolve from one window over the
    profiles, with no pair generation and no scoring; only non-identical
    candidates reach the similarity cascade — the reference's two-phase
    search re-expressed set-based. The light stage ignores the block-size
    cap: a group of more than ``MAX_BLOCK_SIZE`` identical conversations
    still forms one cluster, although ``dropped_blocks`` lists its blocks
    (its ``sig`` block included).

    The full block table is persisted once (``MEMORY_AND_DISK``) and shared
    by ``dropped_blocks`` and the pair generation, so the MinHash sketch
    runs once per pipeline. ``profiles`` and ``blocks`` come back persisted;
    the caller releases them with :meth:`LinkageResult.unpersist` when it is
    done with the result. ``pairs`` and ``scored`` are not persisted: only
    the clustering query reads them (its edges are checkpointed once), and
    their observations complete in that query. A caller that reads them
    again persists them itself.
    """
    metrics = PipelineMetrics()

    rows = F.count(F.lit(1))
    turns = metrics.observe(blocking.normalize_turns(transcripts), "turns", rows=rows)

    profiles = blocking.conv_profiles(turns).cache()
    # the MinHash sketch is the most expensive blocking step: persist the
    # block table once so the dropped-block stats and the pair generation
    # both read it
    blocks = blocking.block_table(profiles).persist(StorageLevel.MEMORY_AND_DISK)
    dropped = pairs_op.dropped_blocks(blocks)
    cand = metrics.observe(heavy_pairs(blocks), "pairs", candidates=rows)
    scored = metrics.observe(
        scoring.score_pairs(cand, profiles),
        "scored",
        rows=rows,
        matches=F.count(F.when(F.col("verdict").isin(*scoring.MATCH_VERDICTS), 1)),
    )

    # contraction shortcut: same-sig stars never enter the CC loop
    clusters = funnel_clusters_from(profiles, scoring.matched_edges(scored))

    return LinkageResult(
        profiles=profiles,
        blocks=blocks,
        dropped_blocks=dropped,
        pairs=cand,
        scored=scored,
        clusters=clusters,
        metrics=metrics,
    )


def link_into(transcripts: DataFrame, store: TableStore, writer: RegistryWriter) -> dict:
    """The link step of ``cli link`` and of every stream micro-batch: link
    ``transcripts``, resolve them against ``writer``'s registry, write
    ``clusters``, ``resolved`` and ``dropped_blocks`` to ``store``, merge the
    new entities into the registry, and write ``metrics.json`` under
    ``store.base``. Returns the metrics:

    - ``turns.rows``, ``pairs.candidates``, ``scored.rows``,
      ``scored.matches``: the linkage plan's row counts
    - ``n_clusters``: the number of clusters
    - ``resolve_stages``: conversations per resolve stage, stages with none
      left out
    - ``profile_partitions``: rows per partition of the profiles
    - ``dropped_blocks``: blocks dropped for exceeding the size cap

    The step resolves once: the resolved frame is cached, and the
    ``clusters`` table and the registry additions are projections of it.
    Every count is an observation on a frame the step runs anyway; only
    ``profile_partitions`` runs an aggregation of its own. Every frame the
    step persists is released before it returns, also when it fails.
    """
    result = run_linkage(transcripts)
    metrics = result.metrics
    registry = writer.read()
    resolved = resolve.resolve_cascade(result.clusters, result.profiles, registry).cache()
    try:
        store.write("clusters", resolved.select("conv_id", "cluster_id"))
        # a cluster_id is its members' min conv_id: one row per cluster has
        # conv_id == cluster_id
        store.write("resolved", metrics.observe(
            resolved.select(*resolve.RESOLVED_COLUMNS),
            "resolved",
            n_clusters=F.count(F.when(F.col("conv_id") == F.col("cluster_id"), 1)),
            **{s: F.count(F.when(F.col("resolve_stage") == s, 1)) for s in resolve.RESOLVE_STAGES},
        ))
        store.write("dropped_blocks", metrics.observe(
            result.dropped_blocks, "dropped_blocks", rows=F.count(F.lit(1))
        ))
        writer.merge(resolve.cascade_registry_additions(resolved, registry))
        out = metrics.resolve()
        stages = {s: out.pop(f"resolved.{s}") for s in resolve.RESOLVE_STAGES}
        out.update(
            n_clusters=out.pop("resolved.n_clusters"),
            resolve_stages={s: n for s, n in stages.items() if n},
            profile_partitions=partition_histogram(result.profiles),
            dropped_blocks=out.pop("dropped_blocks.rows"),
        )
    finally:
        resolved.unpersist()
        result.unpersist()
    with open(os.path.join(store.base, "metrics.json"), "w") as f:
        json.dump(out, f)
    return out
