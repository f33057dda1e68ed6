"""The end-to-end KG-construction pipeline (SURVEY.md §7.1 dataflow):

pages(url, warc_ts, html, lang)
  ① extract: pandas UDF html→text (byte-identical)            [S1]
  ② mention detection: Aho-Corasick Arrow scan                [§2.9]
  ③ entity linking: broadcast alias dim                        [J1/J8]
  ④ canonicalization incl. obsolete remap                      [J3/J4, SO2]
  ⑤ entity dedup: connected components over shared-alias graph [J5]
  ⑥ relation building: co-occurrence groupBy + thresholds      [J6, A1, P6]
  ⑦ triple materialization: anti-join dedup + snapshot commit  [J2, K1]
  ⑧ metrics                                                     [A2-A11]

Each stage is a DataFrame transform; nothing collects to the driver except
final metrics. At cluster scale the pages scan is an Iceberg table and the
sinks are Iceberg MERGE INTO; offline both ends are parquet with identical
semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators.components import (
    connected_components,
)
from biomedical_knowledge_graph_spark.operators.cooccurrence import (
    cooccurrence_edges,
)
from biomedical_knowledge_graph_spark.operators.extraction import extract_pages
from biomedical_knowledge_graph_spark.operators.linking import (
    link_mentions,
    resolve_obsolete,
)
from biomedical_knowledge_graph_spark.operators.mentions import (
    scan_mentions,  # noqa: F401 - the unfused scan stays public API
    scan_mentions_linked,
    scan_mentions_token_join,
)
from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable


@dataclass
class KGResult:
    docs: DataFrame
    links: DataFrame
    nodes: DataFrame
    triples: DataFrame


def _union_find_components(pairs) -> dict[str, str]:
    """Driver-side union-find over (alias, canonical_id) pairs: ids
    sharing an alias merge; every root is the lexicographic MINIMUM
    canonical_id of its component (merges attach the higher root under
    the lower). Returns {canonical_id: resolved_id} for every id seen.
    Shared by alias_component_map's local mode and build_kg's fused AC
    path so both produce bit-identical resolutions."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids: set[str] = set()
    by_alias: dict[str, str] = {}
    for alias, cid in pairs:
        ids.add(cid)
        first = by_alias.setdefault(alias, cid)
        if first != cid:
            ra, rb = find(first), find(cid)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
    return {cid: find(cid) for cid in ids}


def alias_component_map(
    dim_current: DataFrame, mode: str = "auto", broadcast_threshold: int = 5_000_000
) -> DataFrame:
    """⑤ entity resolution: ids sharing an alias merge (J5 as CC).

    Returns (canonical_id, resolved_id). Two strategies:

    - ``local`` (default for broadcast-sized dims): the alias dim is by
      definition small enough to broadcast — union-find on the driver is
      exact, one pass, and avoids ~log(n) distributed CC iterations whose
      fixed job overhead dominates on dimension tables.
    - ``distributed``: large-star/small-star CC over the shared-alias edge
      list (the per-alias-minimum anchoring keeps hub aliases linear, no k²
      pair blowup) — for linkage graphs that do NOT fit on the driver
      (fact-scale entity resolution; see also components.resolve_entities).
    """
    probed = False
    if mode == "auto":
        # size probe BEFORE any collect: limit(k+1).count() touches at most
        # k+1 rows; a 100M-row alias dim routes to the distributed path
        # instead of OOMing the driver
        probe = dim_current.limit(broadcast_threshold + 1).count()
        mode = "local" if probe <= broadcast_threshold else "distributed"
        probed = True
    if mode == "local":
        # explicit mode='local' still gets the guard; auto already probed
        if (
            not probed
            and dim_current.limit(broadcast_threshold + 1).count()
            > broadcast_threshold
        ):
            raise ValueError("alias dim too large for local CC; use distributed")
        rows = dim_current.select("alias", "canonical_id").collect()
        data = sorted(
            _union_find_components(
                (r["alias"], r["canonical_id"]) for r in rows
            ).items()
        )
        return dim_current.sparkSession.createDataFrame(
            data, "canonical_id string, resolved_id string"
        )

    anchor = dim_current.groupBy("alias").agg(
        F.min("canonical_id").alias("dst")
    )
    edges = (
        dim_current.join(anchor, "alias")
        .select(F.col("canonical_id").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )
    cc = connected_components(edges)
    ids = dim_current.select("canonical_id").distinct()
    return ids.join(
        cc, ids["canonical_id"] == cc["node"], "left"
    ).select(
        "canonical_id",
        F.coalesce(F.col("component"), F.col("canonical_id")).alias("resolved_id"),
    )


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    entity_dim: DataFrame,
    min_cooccur: int = 3,
    triples_sink: SnapshotTable | None = None,
    run_id: str | None = None,
    cache_links: bool = True,
    mention_strategy: str = "token_join",
    max_entities_per_doc: int | None = None,
    prune_rare: bool | str | None = None,
    pair_parallelism: int | str | None = "auto",
) -> KGResult:
    """mention_strategy:
    - ``token_join`` (default): JVM-only word-n-gram explode + broadcast
      join (whole-stage codegen end to end; the 100 TB path for
      token-aligned dictionaries);
    - ``ac``: in-worker dictionary scan (regex-trie, Arrow batches;
      needed when aliases aren't token-aligned). Round 4: this path runs
      the FUSED scan+link+canonicalize+dedup (scan_mentions_linked) —
      identical output, no link joins, no distinct shuffle."""
    # ① extract + prune html immediately (keep bytes out of every shuffle)
    docs = extract_pages(pages).filter(F.length("text") > 0)

    # ② mention scan — dictionary ships as one broadcast
    dim_current = resolve_obsolete(entity_dim)
    if mention_strategy == "ac":
        # the AC automaton is built from a driver-collected alias list AND
        # rebuilt per Python worker process — the binding limit is automaton
        # memory (pure-Python trie ≈ 150 B/char × every worker), not the
        # collect. Guard on BOTH a row probe and an exact char sum (the sum
        # is a distributed single-scalar aggregate, safe at any dim size;
        # it only runs once the row probe has passed). 20M chars ≈ 3 GB of
        # automaton per process — beyond that use token_join, which never
        # collects and streams entirely JVM-side.
        import os as _os

        max_aliases = int(_os.environ.get("BKG_AC_MAX_ALIASES", 2_000_000))
        max_chars = int(_os.environ.get("BKG_AC_MAX_CHARS", 20_000_000))
        # ONE row-bounded probe + ONE collect (round 7): the old chain ran
        # five serial dim-sized jobs before any corpus work — distinct-
        # alias probe, char-sum aggregate, alias_component_map's own probe
        # + collect, then the link_rows collect — and their fixed job
        # latency was ~25% of the whole build at bench scale. Everything
        # they computed (size guards, union-find components, the composed
        # alias → (resolved, type) map) derives from the same collected
        # rows. dim rows ≥ distinct aliases, so the row probe is at least
        # as strict as the old distinct-alias probe; the exact char guard
        # runs on the collected aliases before anything big is built.
        if dim_current.limit(max_aliases + 1).count() > max_aliases:
            raise ValueError(
                "alias dictionary too large for the AC (driver-collected, "
                "per-worker-automaton) strategy; use "
                "mention_strategy='token_join'"
            )
        dim_rows = dim_current.select(
            # alias case-fold in SQL, not Python: the scan lowers doc text
            # engine-side, and the dictionary side must fold identically
            # (Python str.lower diverges on some Unicode)
            F.lower("alias").alias("alias_lc"),
            "alias",
            "canonical_id",
            "entity_type",
        ).collect()
        if sum(len(a) for a in {r["alias_lc"] for r in dim_rows}) > max_chars:
            raise ValueError(
                "alias dictionary too large for the AC (driver-collected, "
                "per-worker-automaton) strategy; use "
                "mention_strategy='token_join'"
            )
        # ②+③+④+⑤ FUSED (round 4): the link join (alias → canonical) and
        # the component join (canonical → resolved) are both broadcast
        # maps, and EVERY mention of a doc is produced inside that doc's
        # scan task — so composing the maps driver-side and deduping
        # per doc in the worker yields the same distinct
        # (doc, entity, type) rows with NO link joins and NO distinct
        # shuffle (the dedup key is born partition-local). Equality with
        # the unfused chain is pinned by test_pipeline.
        comp = _union_find_components(
            (r["alias"], r["canonical_id"]) for r in dim_rows
        )
        link_rows = [
            {
                "alias": r["alias_lc"],
                "canonical_id": r["canonical_id"],
                "resolved_id": comp[r["canonical_id"]],
                "entity_type": r["entity_type"],
            }
            for r in dim_rows
        ]
        # replicate link_mentions' dedup contract: case-duplicate dim rows
        # collapse per (alias, canonical) with MIN entity_type (nulls lose)
        per_ac: dict[tuple[str, str], tuple[str, str]] = {}
        for r in link_rows:
            k = (r["alias"], r["canonical_id"])
            v = (r["resolved_id"], r["entity_type"])
            cur = per_ac.get(k)
            if (
                cur is None
                or cur[1] is None
                or (v[1] is not None and v[1] < cur[1])
            ):
                per_ac[k] = v
        link_map: dict[str, list[tuple[str, str]]] = {}
        for (alias, _), v in per_ac.items():
            link_map.setdefault(alias, []).append(v)
        links = scan_mentions_linked(
            docs, link_map, id_col="url", text_col="text"
        ).select(
            F.col("url").alias("doc_id"),
            F.col("entity_id"),
            "entity_type",
        )
    else:
        mentions = scan_mentions_token_join(
            docs, dim_current, id_col="url", text_col="text"
        )

        # ③ link via broadcast dim
        linked = link_mentions(mentions, dim_current, id_col="url").filter(
            F.col("canonical_id").isNotNull()
        )

        # ④+⑤ canonicalize: collapse ids that share aliases (CC)
        comp_map = alias_component_map(dim_current)
        links = (
            linked.join(F.broadcast(comp_map), "canonical_id")
            .select(
                F.col("url").alias("doc_id"),
                F.col("resolved_id").alias("entity_id"),
                "entity_type",
            )
            .distinct()
        )
    if cache_links:
        # links feed three consumers (nodes, co-occurrence, metrics); without
        # a persist each downstream action re-runs extraction + mention scan
        links = links.persist()

    # node table: one row per resolved entity
    nodes = links.groupBy("entity_id").agg(
        F.min("entity_type").alias("entity_type"),
        F.countDistinct("doc_id").alias("doc_count"),
    )

    # ⑥ co-occurrence triples — hash-encoded pair keys and the auto
    # df-prune probe are safe to opt into here because `links` is
    # persisted above, so each probe action costs one cached scan, not a
    # pipeline re-run. prune_rare=None resolves to "auto" when links is
    # cached (probe + prune only if the dim is measured long-tailed,
    # decision recorded in the sink's lineage row), else to the static
    # prune (one extra uncached scan beats re-running extraction twice).
    if prune_rare is None:
        prune_rare = "auto" if cache_links else True
    co_decision: dict = {}
    co = cooccurrence_edges(
        links,
        doc_col="doc_id",
        ent_col="entity_id",
        min_count=min_cooccur,
        max_entities_per_doc=max_entities_per_doc,
        pair_parallelism=pair_parallelism,
        encode_ids=cache_links and max_entities_per_doc is None,
        prune_rare=prune_rare,
        decision_log=co_decision,
        # links is distinct per (doc, entity) on BOTH strategy paths
        # (fused per-doc dedup / explicit .distinct()), so the a-priori
        # df prune is a plain count
        input_distinct=True,
    )
    triples = co.select(
        F.col("subj"),
        F.lit("CO_OCCURS_WITH").alias("pred"),
        F.col("obj"),
        F.col("shared_docs").alias("weight"),
        F.col("confidence"),
    )

    # ⑦ idempotent materialization — the co-occurrence plan decision
    # rides along in the commit's lineage row (VERDICT r4 item 7)
    if triples_sink is not None:
        triples_sink.merge_append(
            triples, run_id=run_id, extra_lineage={"cooccurrence": co_decision}
        )

    return KGResult(docs=docs, links=links, nodes=nodes, triples=triples)


# ---------------------------------------------------------------------------
# Incremental construction (round 5): crawl increments, not full rebuilds
# ---------------------------------------------------------------------------
def build_kg_increment(
    spark: SparkSession,
    new_pages: DataFrame,
    entity_dim: DataFrame,
    counts_table,
    run_id: str,
    mention_strategy: str = "token_join",
    max_entities_per_doc: int | None = None,
    pair_parallelism: int | str | None = "auto",
) -> dict:
    """Process ONLY a new batch of pages and fold its co-occurrence counts
    into a long-lived counter table — the operational shape a 10¹²-doc
    corpus actually needs (daily Common-Crawl increments), where a full
    rebuild per crawl is not an option.

    Correctness rests on one algebraic fact: ``shared_docs(a, b)`` is a
    count of DISTINCT documents, and crawl increments are disjoint
    document sets, so per-increment partial counts ADD exactly. Three
    consequences shape the implementation:

    - the increment's pair counts run at ``min_count=1`` with NO df
      pruning: a pair below today's publication threshold may be promoted
      by a future increment, so the counter table must keep the
      sub-threshold tail (the same tail any exact incremental counter
      keeps; thresholds/tiers are applied at READ time by
      ``published_triples``);
    - the per-doc fan-out cap stays available (it is doc-local, so it is
      increment-exact: capping doc d's entity set gives the same pairs no
      matter which increment d arrives in);
    - the sink is an ``AggregatingSnapshotTable`` (merge-on-read deltas):
      the commit appends only the increment's pre-aggregated partials —
      per-increment cost is proportional to the increment, never to the
      accumulated table — and ``run_id`` makes crashed-and-replayed
      increments exact no-ops (batch-granular exactly-once).

    A replay is answered from the table's manifests before any planning:
    a ``run_id`` that is already committed returns
    ``{"run_id", "rows_added": 0, "replayed": True}`` and runs no Spark job.

    Returns the commit's lineage row. Publication:
    ``published_triples(spark, counts_table, min_cooccur, tiers)``.
    """
    if run_id in counts_table.committed_run_ids():
        return {"run_id": run_id, "rows_added": 0, "replayed": True}
    result = build_kg(
        spark,
        new_pages,
        entity_dim,
        min_cooccur=1,
        triples_sink=None,
        run_id=run_id,
        mention_strategy=mention_strategy,
        max_entities_per_doc=max_entities_per_doc,
        pair_parallelism=pair_parallelism,
        # min_count=1 makes the a-priori prune inapplicable (nothing is
        # below support 1) — skip even the auto probe's action
        prune_rare=False,
    )
    partial = result.triples.select("subj", "obj", F.col("weight"))
    lineage = counts_table.delta_append(partial, run_id=run_id)
    result.links.unpersist()
    return lineage


def published_triples(
    spark: SparkSession,
    counts_table,
    min_cooccur: int = 3,
    tiers=None,
) -> DataFrame:
    """The published KG edge view over an incrementally-built counter
    table: merge all deltas (one groupBy over one FileScan), then apply
    the publication threshold and confidence tiers to the TOTals —
    identical rows to a from-scratch ``build_kg`` over the union of every
    increment's pages (pinned by test_incremental)."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        DEFAULT_TIERS,
        confidence_tier,
    )

    merged = counts_table.read_merged(spark)
    if merged is None:
        raise ValueError(f"no committed increments in {counts_table.root}")
    return (
        merged.filter(F.col("weight") >= min_cooccur)
        .select(
            "subj",
            F.lit("CO_OCCURS_WITH").alias("pred"),
            "obj",
            "weight",
            confidence_tier(
                F.col("weight"), tiers or DEFAULT_TIERS
            ).alias("confidence"),
        )
    )
