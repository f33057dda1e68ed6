"""Weighted PageRank over the KG edge graph, in EXACT fixed-point
arithmetic (round 5).

Entity-importance ranking is the standard post-process on a constructed
knowledge graph (rank entities for canonical-name election, triage, or
downstream retrieval weighting). The reference has no analogue; this is
one of the "beyond the reference" graph operators, built Spark-first as
pure DataFrame joins/aggregations.

Why fixed-point: floating-point PageRank is ORDER-DEPENDENT — a double
sum over incoming contributions changes with partition count, so two
runs (or Spark vs an oracle engine) can disagree in the last bits and a
value-hash comparison fails. Following the fixed-point-Lloyd trick that
made k-means centroids bit-identical across engines (similarity.py), all
rank mass here is BIGINT scaled by 2**40:

- ``rank0 = SCALE div n``
- per-edge contribution ``(rank[src] * w) div out_w[src]`` (floor div)
- ``rank' = base + (17 * sum_contrib) div 20`` with
  ``base = (3 * SCALE) div (20 * n)`` — damping 0.85 as the exact
  rational 17/20, teleport 0.15 as 3/20.

Integer sums are associative/commutative, so the result is bit-identical
for ANY partitioning and reproducible in ANSI SQL (DuckDB ``//``), which
is what lets a fixed iteration count be value-hash oracled. Floor-vs-
truncate divergence doesn't arise: every operand is non-negative.

Scale: each iteration is two shuffles (join ranks to edges on src, then
re-aggregate on dst) over the edge list — the same shape as one round of
star-contraction in components.py. The iterations chain lazily into
one plan and the result is eager-checkpointed once (each rank frame is
read exactly once, by the next iteration's join, so per-iteration
checkpoints only add jobs: measured 4.5 s -> 3.7 s at sf0.1 for 5
iterations, bit-identical by integer-sum associativity); the plan grows
with the iteration count, which suits the small fixed counts callers
pass. The edge list is symmetrized once up front (an undirected KG edge
feeds both endpoints), which also removes dangling nodes — every node
with an edge has out-degree ≥ 1, so no rank mass leaks. Overflow
headroom: total rank mass ≈ SCALE (2**40) and per-edge ``rank * w``
stays below 2**63 for weights up to ~2**22.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1 << 40


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    iterations: int = 5,
) -> DataFrame:
    """edges(src, dst, weight) — undirected, one row per edge — →
    (node, rank_scaled BIGINT, rank DOUBLE). ``rank = rank_scaled /
    2**40`` is exact (numerator < 2**53, power-of-two divisor), so both
    columns are engine-portable."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    # w > 0 guarantees out_w >= 1 for every node that survives — the
    # per-edge `div out_w` can never hit ANSI DIVIDE_BY_ZERO, and a
    # zero-weight edge carries no rank mass anyway
    e = e.unionByName(
        e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    ).filter(F.col("src") != F.col("dst"))
    # one symmetrized edge list reused every iteration: persist and
    # pre-shuffle on src so each iteration's join reuses the exchange.
    # The explicit count keeps that partitioning: AQE coalesces the final
    # shuffle of a persisted plan (session.py) unless the count is pinned.
    # One partition per task slot: at sf0.1 on local[4], kg_pagerank ran
    # 208 tasks (min 3.0 s) with 16 shuffle partitions, 64 (2.5 s) with 4
    parts = edges.sparkSession.sparkContext.defaultParallelism
    e = e.repartition(parts, "src").persist()
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = e.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.select(
            "node",
            F.lit(0).cast("long").alias("rank_scaled"),
            F.lit(0.0).alias("rank"),
        )
    base = (3 * SCALE) // (20 * n)
    # (src, dst, w, out_w) is constant across iterations, but a lazy plan
    # here would be re-executed by every iteration's eager checkpoint —
    # the out-degree aggregate and its join would run once per iteration.
    # Persist it once, materialize it now (the nodes.count() above and
    # iteration 1 would otherwise both pay it), and release `e`
    # immediately: e and ew are near-identical row sets, and holding both
    # cached for the whole loop doubles edge storage for nothing.
    ew = e.join(out_w, "src").persist()
    ew.count()
    # the init checkpoint stays EAGER: `nodes` derives
    # from `e`, which is unpersisted next — a lazy init would silently
    # recompute the whole edge prep inside the first downstream job
    # (measured +3 s at sf0.1 when this was made conditional)
    ranks = nodes.withColumn(
        "rank_scaled", F.lit(SCALE // n).cast("long")
    ).localCheckpoint(eager=True)
    # ranks is checkpointed and ew materialized — nothing reads e anymore
    e.unpersist()
    for _ in range(iterations):
        contribs = ew.join(
            ranks, ew["src"] == ranks["node"]
        ).select(
            F.col("dst").alias("node"),
            F.expr("rank_scaled * w div out_w").alias("c"),
        )
        ranks = contribs.groupBy("node").agg(
            (
                F.lit(base)
                + F.expr("17 * sum(c) div 20")
            ).alias("rank_scaled")
        )
    # one job runs the lazy chain; eager-checkpointing the node-sized
    # result lets ew be released before returning (a lazy result
    # referencing an unpersisted ew would silently recompute the whole
    # edge prep per downstream action)
    result = ranks.select(
        "node",
        "rank_scaled",
        (F.col("rank_scaled") / F.lit(float(SCALE))).alias("rank"),
    ).localCheckpoint(eager=True)
    ew.unpersist()
    return result
