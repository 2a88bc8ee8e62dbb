"""Connected components over a ``(src: long, dst: long)`` edge table.

Used by ``textops.near_dup_clusters`` to label near-duplicate clusters
from candidate pairs. Everything is JVM-side ``pyspark.sql.functions``
— no Python UDFs — and the labels (minimum reachable node id) are
bit-reproducible across engines, partitionings and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _star_violations(s: DataFrame) -> int:
    """Fixpoint probe for connected_components: ``s`` (a distinct
    u<v edge set) is a star forest iff every node on the v side
    appears in exactly one edge and never on the u side — one
    node-keyed hash-aggregate + count, no set difference. Star forest
    <=> both star transforms are no-ops (Kiveris et al. 2014), which
    is exactly when the round loop's edge set has stopped changing."""
    ends = s.select(
        F.col("u").alias("node"), F.lit(1).alias("as_u"),
        F.lit(0).alias("as_v"),
    ).unionByName(
        s.select(
            F.col("v").alias("node"), F.lit(0).alias("as_u"),
            F.lit(1).alias("as_v"),
        )
    )
    return (
        ends.groupBy("node")
        .agg(F.sum("as_u").alias("nu"), F.sum("as_v").alias("nv"))
        .filter(
            (F.col("nv") > 1) | ((F.col("nv") >= 1) & (F.col("nu") >= 1))
        )
        .count()
    )


def connected_components(
    edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the algorithm this repo has twice named as the
    10^10-edge swap for near-dup cluster labeling, now implemented for
    real. Labels every node with the minimum node id reachable from it
    in the undirected view of the edge table.

    Large-star hangs every neighbor LARGER than u off m(u) =
    min(N(u) ∪ {u}); small-star re-parents the smaller neighbors the
    same way. Alternating the two converges to a star forest in
    O(log^2 n) rounds (~4-6 in practice on web graphs), independent of
    component diameter — the property plain min-label propagation
    (textops.near_dup_clusters) lacks: a 10^7-long crawl chain takes
    10^7 propagation rounds but ~6 star rounds.

    Returns (node, component) with component = min node id of the
    node's component; a component's root labels itself.

    Scale: each round is two node-keyed WINDOW passes (min over the
    symmetric neighborhood attached in the same exchange+sort that
    carries the edge rows — round 7 replaced the groupBy + re-join
    per half-step, which shuffled the adjacency twice and duplicated
    the aggregate subtree under the small-star union) plus the
    re-keyed edge emission — all shuffles keyed on node id, no
    all-pairs, edge set never grows beyond the input (large-star
    emits one edge per larger-neighbor, small-star one per
    smaller-neighbor). Convergence is checked with
    ONE node-keyed aggregate over the round's (checkpointed) edge set:
    the algorithm's fixpoint is exactly the star-forest state — every
    larger endpoint (v side) appears in exactly one edge and never as
    a hub (u side) — so the round loop stops when that violation count
    hits zero (this replaces the two exceptAll set-differences the
    round-6 version ran per round; exact, not probabilistic). Lineage
    is truncated per round with localCheckpoint (a plan-OOM guard for
    long round loops). Skewed mega-hubs (a node with 10^8
    neighbors) are exactly what large-star handles: the hub's
    neighborhood is split across partitions by the groupBy's partial
    aggregation since only min() is carried.
    """
    e = (
        edges.select(
            F.col("src").cast("long").alias("u"),
            F.col("dst").cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    # m(u) = min over the symmetric neighborhood ∪ {u}, attached to
    # every (u, v) row with ONE window pass (exchange by u + sort)
    # instead of the round-6 groupBy + re-join, which shuffled the
    # full adjacency twice per half-step and duplicated the aggregate
    # subtree under the small-star union (guide §2.4 "share one
    # exchange"). The whole-partition frame is explicit because the
    # small-star window also orders by v for its row_number.
    _full = Window.partitionBy("u").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    _rn = Window.partitionBy("u").orderBy("v")

    for _ in range(max_rounds):
        # symmetric adjacency view of the current undirected edge set
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: (v, m(u)) for every neighbor v > u
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(_full), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over large-star's output: orient toward the larger
        # endpoint, re-parent every smaller neighbor (and u itself) to
        # m. Both emissions — (v, m) per row and (u, m) once per u —
        # come out of ONE windowed pass via a 1-or-2 element explode,
        # so the upstream pipeline is computed once, not twice.
        tol = large.select(F.col("v").alias("u"), F.col("u").alias("v"))
        tol_m = tol.select(
            "u",
            "v",
            F.least(F.min("v").over(_full), F.col("u")).alias("m"),
            F.row_number().over(_rn).alias("rn"),
        )
        pair_vm = F.struct(
            F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
        )
        pair_um = F.struct(
            F.least("u", "m").alias("u"), F.greatest("u", "m").alias("v")
        )
        small = (
            tol_m.select(
                F.explode(
                    F.when(F.col("rn") == 1, F.array(pair_vm, pair_um))
                    .otherwise(F.array(pair_vm))
                ).alias("p")
            )
            .select("p.u", "p.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        # converged iff the edge set is a star forest (see
        # _star_violations) — equivalently the next round is a no-op
        e = small
        if _star_violations(small) == 0:
            break

    nodes = (
        edges.select(F.col("src").cast("long").alias("node"))
        .union(edges.select(F.col("dst").cast("long").alias("node")))
        .distinct()
    )
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            "node",
            F.coalesce("component", F.col("node")).alias("component"),
        )
    )
