"""Connected components for entity resolution (J5).

The reference's duplicate-gene consolidation is a pairwise Cypher self-join
that merges two Gene nodes sharing a symbol and moves edges to the survivor
(kg_scripts/go_kg_builder.py:1381-1440). At web scale that pairwise merge is
wrong (chains a-b-c need transitive closure), so — per the north_star —
entity dedup is *connected components over the shared-identifier graph*.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014), expressed entirely as
DataFrame joins/aggregations:

- large-star: attach every neighbor u > v of each node v to v's current
  minimum neighbor m (strictly decreases large labels);
- small-star: attach v and its smaller neighbors to the minimum.

Each iteration is two shuffles on the node key; lineage is truncated with
``localCheckpoint`` every iteration so the plan stays O(1) deep regardless
of iteration count (driver-side loop, data never leaves the cluster).
Convergence in O(log n) iterations even on path graphs; hub identifiers
(shared symbols) are exactly the skewed keys AQE skew-join splitting
handles, and the star-contraction shape avoids materializing transitive
closure (quadratic) the way naive label propagation would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    # explode-based, NOT union-based: a self-union of the same incoming
    # frame forces Catalyst to deduplicate the second child's attributes,
    # and when the input is a localCheckpointed LogicalRDD carrying
    # origin constraints (every upstream operator here returns one),
    # Union.rewriteConstraints can crash with key-not-found on the
    # renamed attributes (seen live with minhash pairs as input). The
    # explode emits both directions in ONE scan — no second child, no
    # dedup, half the input traffic
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One star-contraction round. Input/output: undirected edge list in
    canonical (src>dst not enforced) form with both directions present."""
    nbr_min = edges.groupBy("src").agg(F.min("dst").alias("m"))
    j = edges.join(nbr_min, "src")
    m_all = F.least(F.col("m"), F.col("src"))
    if large:
        # neighbors strictly larger than the center link to the center's min
        out = j.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), m_all.alias("dst")
        )
    else:
        out = j.filter(F.col("dst") <= F.col("src")).select(
            F.col("dst").alias("src"), m_all.alias("dst")
        ).unionByName(j.select(F.col("src"), m_all.alias("dst")))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """edges(src, dst) → assignments(node, component) where component is the
    minimum node id in each component. Isolated nodes (no edges) are the
    caller's concern — they are their own component.

    Node ids must be orderable (string or numeric)."""
    cur = _symmetrize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        after_large = _star_round(_symmetrize(cur), large=True)
        after_small = _star_round(_symmetrize(after_large), large=False)
        # LAZY checkpoint: the convergence probe below is the first action,
        # so it materializes the checkpoint AND tests the predicate in ONE
        # job per iteration (an eager checkpoint + separate probe was two).
        after_small = after_small.localCheckpoint(eager=False)
        # Converged when every edge points directly at a component min:
        # no node appears on both sides (star graph = 2-level forest).
        # Round 8: the probe reads after_small ONCE (explode both
        # endpoints, tag the side, group) — the old self-join referenced
        # the un-materialized checkpoint twice, and its two concurrent
        # exchange legs RACED the cache fill, re-running the whole star
        # round once per side (the closure.py round-8 finding); this
        # shape is also one exchange instead of two plus a join build.
        two_level = (
            after_small.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("src").alias("n"), F.lit(0).alias("s")
                        ),
                        F.struct(
                            F.col("dst").alias("n"), F.lit(1).alias("s")
                        ),
                    )
                ).alias("_t")
            )
            .groupBy("_t.n")
            .agg(F.min("_t.s").alias("_mn"), F.max("_t.s").alias("_mx"))
            .filter((F.col("_mn") == 0) & (F.col("_mx") == 1))
            .limit(1)
            .count()
            == 0
        )
        cur = after_small
        if two_level:
            break

    comp = cur.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    # a component min itself may appear only as dst; add self-assignments
    mins = comp.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return (
        comp.unionByName(mins)
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )

