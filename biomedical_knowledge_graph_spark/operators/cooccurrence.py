"""Co-occurrence relationship derivation (J6 + A1 + P6).

Reference semantics (kg_scripts/go_terms_interconnector.py:103-203): for two
entity families annotated to the same gene, count DISTINCT shared genes per
(a, b) pair, keep pairs with count ≥ 3, and tier confidence
high ≥ 50 / medium ≥ 10 / low ≥ 3 (thresholds at
go_terms_interconnector.py:44-46, tiering at :114-121).

In the web-pages engine the "shared gene" is the shared *document*: entities
co-mentioned in a document get a co-occurrence edge weighted by distinct
document count.

Scale design (SURVEY.md §7.4-3 — the quadratic blowup is here):
1. per-doc dedup happens INSIDE the one groupBy(doc) collect_set (its
   map-side partial aggregation dedupes before the shuffle — equivalent
   to the reference's count-distinct-after-expansion, with no separate
   distinct shuffle);
2. pairs are emitted JVM-side from each doc's sorted entity set, never by
   a self-join;
3. pair counting is a map-side-combinable hash aggregate.

Every doc's full entity set is paired (exact and uncapped, as the
reference counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TIERS: tuple[tuple[int, str], ...] = ((50, "high"), (10, "medium"), (3, "low"))


def confidence_tier(count_col, tiers=DEFAULT_TIERS):
    """when-chain confidence tiers (go_terms_interconnector.py:114-121)."""
    expr = None
    for threshold, label in tiers:
        cond = count_col >= threshold
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return expr.otherwise(F.lit("below_threshold"))


def cooccurrence_edges(
    links: DataFrame,
    doc_col: str = "doc_id",
    ent_col: str = "canonical_id",
    min_count: int = 3,
    tiers=DEFAULT_TIERS,
    pair_parallelism: str | None = "auto",
) -> DataFrame:
    """links(doc, entity, ...) → edges(subj, obj, shared_docs, confidence)
    with subj < obj (undirected canonical form). Building the plan runs
    no Spark action.

    ``pair_parallelism="auto"`` repartitions the per-doc sets to 3×
    defaultParallelism before the explosion: the sets are small in bytes
    but explode ~k²/2 rows each, and an explicit count is exempt from
    AQE's byte-based coalescing. ``None`` keeps the groupBy partitioning,
    for inputs with a bounded per-doc fan-out (the testdata-backed registry
    queries): there the pair output is ~ the input, AQE sizes the stage
    from bytes at any scale, and the repartition is pure overhead (round-8
    paired A/B: kg_cc 4.55 -> 3.14 s, kg_triples 1.85 -> 0.89 s)."""
    if pair_parallelism not in ("auto", None):
        raise ValueError(
            f"pair_parallelism={pair_parallelism!r}: takes 'auto' or None"
        )
    # NO pre-distinct: the pair stage aggregates with collect_set, whose
    # map-side partial aggregation dedupes (doc, entity) before the
    # shuffle anyway — a distinct() here is one full extra shuffle on a
    # DIFFERENT key (doc, entity vs doc), measured pure overhead in the
    # pipeline's dominant phase (round 4; the distinct-first advice in
    # this file's header applies to the self-join shape, not this one).
    # Pair generation: one groupBy(doc) shuffle collecting the (sorted,
    # distinct — collect_set) per-doc entity set, pairs emitted JVM-side
    # from the array, then a map-side-combinable count. Because each
    # per-doc array is a SET, each (doc, subj, obj) appears exactly once,
    # so count(*) == countDistinct(doc) — the cheap aggregate is exact.
    # (The alternative — self-join on the doc key — shuffles the links
    # twice and needs a two-phase distinct aggregate; this shape halves
    # the shuffled bytes and keeps the wide rows out of the exchange.)
    doc_sets = links.groupBy(doc_col).agg(
        F.sort_array(F.collect_set(ent_col)).alias("_ents")
    )
    if pair_parallelism == "auto":
        doc_sets = doc_sets.repartition(
            links.sparkSession.sparkContext.defaultParallelism * 3
        )
    # pair emission as TWO nested generators (posexplode + slice-explode)
    # instead of one flatten(transform(transform(...))) HOF: Catalyst
    # interprets higher-order-function lambdas per element (no codegen),
    # while explode generators run inside whole-stage codegen — measured
    # ~15% faster on a 103M-pair corpus with identical output. Both
    # explodes sit in one codegen stage, so the carried _ents array is
    # never materialized between them.
    pair_counts = (
        doc_sets.select("_ents", F.posexplode("_ents").alias("_i", "_x"))
        .select(
            F.col("_x").alias("subj"),
            F.explode(
                F.expr("slice(_ents, _i + 2, size(_ents))")
            ).alias("obj"),
        )
        .groupBy("subj", "obj")
        .agg(F.count("*").alias("shared_docs"))
    )
    return pair_counts.filter(F.col("shared_docs") >= min_count).withColumn(
        "confidence", confidence_tier(F.col("shared_docs"), tiers)
    )
