"""Transitive clustering: large-star/small-star connected components.

The reference resolves a candidate forest to one canonical entity id through
in-memory parent walks + a MERGE upsert (``AddressSearcher.cs:43-67``,
``Db/DataContextBase_Address.cs:359-440``). At 10^12-turn scale the analog is
connected components over the matched-pair edge list, computed with the
alternating large-star/small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — each phase is one
groupBy+min+explode, convergence in O(log n) rounds, no driver-side graph.

Determinism: components are labeled by their lexicographic min node id, so
cluster ids are stable across runs/partitionings (replacing the reference's
order-dependent ``First()`` tie-breaks, ``AddressChooser.cs:30,62``).

Each round's edge frontier is truncated with ``localCheckpoint``: the loop
needs lineage truncation per round, not durable state, so a failed run
recomputes from its input rather than resuming from files that could belong
to another input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds before the loop gives up; it converges in O(log n) rounds
MAX_ITER = 25


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect neighbors v > u to min(N(u) ∪ {u})."""
    nbrs = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionAll(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("u"), F.col("mv"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), m.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges big->small; connect each small neighbor (and u) to the min."""
    nbrs = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("m"))
    relink = nbrs.join(mins, "u").select(F.col("v").alias("src"), F.col("m").alias("dst"))
    self_link = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        relink.unionAll(self_link)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(edges: DataFrame) -> bool:
    """Structural convergence test: TRUE iff the edge set is a converged
    min-labeled star forest.

    Converged means: every edge points member -> center (src > dst), no node
    is both a source and a destination (no chains left to collapse), and no
    source appears twice (no node still linked to two centers). One tiny
    aggregation job — much cheaper than the extra large-star/small-star
    round that fingerprint-equality convergence detection needs to CONFIRM
    stability: this test fires on the converged round itself, and an input
    that is already a star forest (e.g. pure exact-duplicate stars) exits
    with zero rounds.
    """
    nodes = edges.select(
        F.col("src").alias("n"),
        F.lit(1).alias("s"),
        F.lit(0).alias("d"),
        (F.col("src") <= F.col("dst")).cast("int").alias("w"),
    ).unionAll(
        edges.select(F.col("dst"), F.lit(0), F.lit(1), F.lit(0))
    )
    bad = (
        nodes.groupBy("n")
        .agg(
            F.max("s").alias("s"), F.max("d").alias("d"),
            F.sum("s").alias("ns"), F.max("w").alias("w"),
        )
        .filter(
            (F.col("w") == 1)
            | ((F.col("s") == 1) & ((F.col("d") == 1) | (F.col("ns") > 1)))
        )
    )
    return bad.isEmpty()


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``component`` is the lexicographic min node id of the connected component.
    """
    # normalize in CONVERGED orientation (big -> small): an input that is
    # already a min-labeled star forest then exits below with zero rounds
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst")).distinct()

    # materialize the (possibly expensive) upstream plan ONCE: the
    # convergence check and round 1 both consume this frontier
    e = e.localCheckpoint(eager=False)

    for _ in range(MAX_ITER):
        # structural check BEFORE each round: fires on the converged round
        # itself (fingerprint-equality needs one extra confirming round) and
        # doubles as the action that runs the lazy checkpoint's result stage
        if _is_star_forest(e):
            break
        # localCheckpoint is LOAD-BEARING, not an optimization knob: each
        # star round references its input in several subtrees (self-join +
        # union), so without lineage TRUNCATION the logical plan roughly
        # triples per iteration and the analyzer/optimizer hangs by
        # iteration ~4. persist() alone does NOT truncate (caching is a
        # physical-plan concern; the optimizer still walks the full tree) —
        # measured, do not "simplify". eager=False does not defer the
        # round's work: with AQE on (session.SQL_SETTINGS) the call itself
        # runs every shuffle stage of its plan as jobs of its own, and only
        # the result stage waits for the next _is_star_forest action (in
        # a warm `cli link` of 300 synthetic conversations at local[4], the
        # first frontier's 20 jobs all ran inside DataFrame.localCheckpoint,
        # 1.8 s under cProfile). The call stays for the truncation
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
    else:
        if not _is_star_forest(e):
            raise RuntimeError(
                f"connected_components: no convergence in {MAX_ITER} iterations"
            )

    # Converged: every edge points node -> component min. Reps map to themselves.
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    reps = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    return members.unionByName(reps).distinct()

