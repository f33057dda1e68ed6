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
# ``prune_rare="auto"`` prunes when rare entities carry this share of links
PRUNE_PROBE_THRESHOLD = 0.10


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
    encode_ids: bool = False,
    prune_rare: bool | str = False,
    decision_log: dict | None = None,
    input_distinct: bool = False,
) -> DataFrame:
    """links(doc, entity, ...) → edges(subj, obj, shared_docs, confidence)
    with subj < obj (undirected canonical form).

    Two options run a driver ACTION over ``links`` at plan time, so both
    act only when ``links.storageLevel`` shows the frame persisted (one
    cached scan); on an unpersisted frame they fall back and say so in
    ``decision_log``:

    - ``encode_ids``: pair explosion and count run over xxhash64-encoded
      long keys, decoded after the min_count filter. An injectivity probe
      (count(entities) == count(distinct hashes)) guards it; on a
      collision it keeps the strings. The decode restores subj < obj in
      string order, so the output is byte-identical either way.
    - ``prune_rare="auto"``: probe the exact df distribution and drop
      entities with df < min_count before the pair explosion (exact:
      shared_docs(a, b) <= min(df(a), df(b))) only when they carry ≥
      ``PRUNE_PROBE_THRESHOLD`` of the link mass. With encoding on, the
      injectivity probe rides the same aggregate. ``False`` (default)
      never prunes.

    ``pair_parallelism="auto"`` repartitions the per-doc sets to 3×
    defaultParallelism before the explosion: the sets are small in bytes
    but explode ~k²/2 rows each, and an explicit count is exempt from
    AQE's byte-based coalescing. ``None`` keeps the groupBy partitioning,
    for inputs with a bounded per-doc fan-out (the testdata-backed registry
    queries): there the pair output is ~ the input, AQE sizes the stage
    from bytes at any scale, and the repartition is pure overhead (round-8
    paired A/B: kg_cc 4.55 -> 3.14 s, kg_triples 1.85 -> 0.89 s).

    ``decision_log``: a dict the caller owns that receives ``prune_rare``,
    ``prune_rare_mode`` and ``rare_row_frac``."""
    if prune_rare not in (False, "auto") or pair_parallelism not in ("auto", None):
        raise ValueError(
            f"prune_rare={prune_rare!r} / pair_parallelism={pair_parallelism!r}: "
            "prune_rare takes False or 'auto', pair_parallelism 'auto' or None"
        )
    level = links.storageLevel
    probe_ok = bool(level.useMemory or level.useDisk)
    if not probe_ok and encode_ids:
        encode_ids = False
        if decision_log is not None:
            decision_log["encode_ids_skipped_unpersisted"] = True
    # NO pre-distinct: the pair stage aggregates with collect_set, whose
    # map-side partial aggregation dedupes (doc, entity) before the
    # shuffle anyway — a distinct() here is one full extra shuffle on a
    # DIFFERENT key (doc, entity vs doc), measured pure overhead in the
    # pipeline's dominant phase (round 4; the distinct-first advice in
    # this file's header applies to the self-join shape, not this one)
    pairs_in = links.select(doc_col, ent_col)
    prune_eligible = min_count > 1
    # the encode_ids injectivity probe: (vocabulary size, distinct hashes)
    id_probe = (
        F.count("*").alias("_n"),
        F.countDistinct(F.xxhash64(ent_col)).alias("_nh"),
    )
    id_stats = None
    prune, mode, rare_frac = False, "explicit", None
    if prune_rare == "auto":
        # the df prune is a measured win on long-tailed entity dims (web
        # dictionaries) and a measured 1.57× REGRESSION on dense
        # bounded-fan-out dims (every key frequent, the extra pass is pure
        # overhead). Decide from the exact df distribution in ONE
        # aggregate action: the same groupBy(entity) the prune itself
        # needs, collapsed to the total (doc, entity) mass and the mass
        # carried by entities with df < min_count (exactly the rows
        # pruning would delete)
        mode = "auto" if probe_ok else "auto-skipped-unpersisted"
        if probe_ok and prune_eligible:
            probe_agg = (
                F.count("*") if input_distinct else F.countDistinct(doc_col)
            )
            # with encode_ids the injectivity probe rides this aggregate:
            # it runs on the pre-prune vocabulary, a superset of what the
            # pairs use, and a hash injective there is injective on any
            # subset, so the check stays exact. ``_kept`` is the size of
            # the vocabulary the prune leaves, which the decode map is
            # built from
            kept = F.count(F.when(F.col("_df") >= min_count, 1)).alias("_kept")
            stats = (
                pairs_in.groupBy(ent_col)
                .agg(probe_agg.alias("_df"))
                .agg(
                    F.sum("_df").alias("_total"),
                    F.sum(
                        F.when(F.col("_df") < min_count, F.col("_df"))
                        .otherwise(F.lit(0))
                    ).alias("_rare"),
                    *((*id_probe, kept) if encode_ids else ()),
                )
                .first()
            )
            total = stats["_total"] or 0
            rare_frac = (stats["_rare"] or 0) / total if total else 0.0
            prune = rare_frac >= PRUNE_PROBE_THRESHOLD
            if encode_ids:
                vocab_n = stats["_kept"] if prune else stats["_n"]
                id_stats = (stats["_n"], stats["_nh"], vocab_n)
    if decision_log is not None:
        decision_log.update(
            prune_rare=prune,
            prune_rare_mode=mode,
            rare_row_frac=None if rare_frac is None else round(rare_frac, 6),
        )
    if prune:
        # a-priori support pruning (round 4, EXACT): shared_docs(a, b) <=
        # min(df(a), df(b)), so an entity mentioned in fewer than
        # ``min_count`` docs cannot appear in ANY surviving pair — drop it
        # BEFORE the quadratic explosion. On a web corpus the entity
        # df-distribution is long-tailed, so this prunes most of the
        # vocabulary while the output is provably unchanged
        # (oracle-checked; equality test with prune_rare=False). The df
        # table is entity-dim-sized and broadcast-semi-joins back — the
        # fact side is never shuffled for the filter.
        # ``input_distinct``: callers whose links are already distinct per
        # (doc, entity) — the fused scan, _doc_links — declare it so df
        # is a plain map-side-combinable count(*) (shuffles one partial
        # row per entity per partition) instead of an exact countDistinct
        # (which shuffles the deduped (entity, doc) pairs themselves).
        df_agg = (
            F.count("*") if input_distinct else F.countDistinct(doc_col)
        )
        frequent = (
            pairs_in.groupBy(ent_col)
            .agg(df_agg.alias("_df"))
            .filter(F.col("_df") >= min_count)
            .select(ent_col)
        )
        pairs_in = pairs_in.join(F.broadcast(frequent), ent_col, "left_semi")
    decode = None
    decode_broadcast = False
    if encode_ids:
        vocab = pairs_in.select(ent_col).distinct()
        if id_stats is None:
            n, nh = vocab.agg(*id_probe).first()
            id_stats = (n, nh, n)
        n, nh, vocab_n = id_stats
        if n == nh:  # injective on this vocabulary
            decode = vocab.select(
                F.col(ent_col).alias("_ent"), F.xxhash64(ent_col).alias("_eid")
            )
            decode_broadcast = vocab_n <= 5_000_000
            pairs_in = pairs_in.select(
                doc_col, F.xxhash64(ent_col).alias(ent_col)
            )
    # Pair generation: one groupBy(doc) shuffle collecting the (sorted,
    # distinct — collect_set) per-doc entity set, pairs emitted JVM-side
    # from the array, then a map-side-combinable count. Because each
    # per-doc array is a SET, each (doc, subj, obj) appears exactly once,
    # so count(*) == countDistinct(doc) — the cheap aggregate is exact.
    # (The alternative — self-join on the doc key — shuffles the links
    # twice and needs a two-phase distinct aggregate; this shape halves
    # the shuffled bytes and keeps the wide rows out of the exchange.)
    doc_sets = pairs_in.groupBy(doc_col).agg(
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
    out = pair_counts.filter(F.col("shared_docs") >= min_count).withColumn(
        "confidence", confidence_tier(F.col("shared_docs"), tiers)
    )
    if decode is not None:
        # decode AFTER the filter (smallest possible join input); restore
        # the subj < obj canonical form in STRING order — hash order and
        # string order disagree, so the pair may need a swap
        ds = decode.select(F.col("_eid").alias("subj"), F.col("_ent").alias("_s"))
        do = decode.select(F.col("_eid").alias("obj"), F.col("_ent").alias("_o"))
        if decode_broadcast:
            ds, do = F.broadcast(ds), F.broadcast(do)
        out = (
            out.join(ds, "subj")
            .join(do, "obj")
            .select(
                F.least("_s", "_o").alias("subj"),
                F.greatest("_s", "_o").alias("obj"),
                "shared_docs",
                "confidence",
            )
        )
    return out
