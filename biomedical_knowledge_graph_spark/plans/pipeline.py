"""The end-to-end KG-construction pipeline (SURVEY.md §7.1 dataflow):

pages(url, warc_ts, html, lang)
  ① extract: pandas UDF html→text (byte-identical)            [S1]
  ② mention detection: regex-trie scan over Arrow batches      [§2.9]
  ③ entity linking: alias map shipped with the scanner         [J1/J8]
  ④ canonicalization incl. obsolete remap                      [J3/J4, SO2]
  ⑤ entity dedup: union-find over the shared-alias graph       [J5]
     (②–⑤ run as one fused scan; see build_kg)
  ⑥ relation building: co-occurrence groupBy + thresholds      [J6, A1, P6]
  ⑦ triple materialization: anti-join dedup + snapshot commit  [J2, K1]
  ⑧ metrics                                                     [A2-A11]

Each stage is a DataFrame transform; nothing collects to the driver except
the alias dim (②–⑤) and final metrics. At cluster scale the pages scan is
an Iceberg table and the sinks are Iceberg MERGE INTO; offline both ends
are parquet with identical semantics.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators.cooccurrence import (
    confidence_tier,
    cooccurrence_edges,
)
from biomedical_knowledge_graph_spark.operators.extraction import extract_pages
from biomedical_knowledge_graph_spark.operators.linking import (
    link_mentions,  # noqa: F401 - unused; perfbench's traced run wraps it here
    resolve_obsolete,
)
from biomedical_knowledge_graph_spark.operators.mentions import (
    scan_mentions_linked,
    scan_mentions_token_join,  # noqa: F401 - unused; perfbench wraps it here
)
from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable

# alias-dictionary bounds of the driver-collected, per-worker scanner: dim
# rows, distinct lowered alias chars
_AC_MAX_ALIASES = 2_000_000
_AC_MAX_CHARS = 20_000_000
_TOO_LARGE = (
    "alias dictionary too large for the driver-collected, per-worker "
    f"scanner (bounds: {_AC_MAX_ALIASES} rows, {_AC_MAX_CHARS} distinct "
    "lowered alias chars)"
)


def _hash_ids(col):
    """The long key co-occurrence pairs are counted over."""
    return F.xxhash64(col)


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
    build_kg composes it into the scanner's link map; tests join it
    into the unfused reference chain."""
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


def build_kg(
    spark: SparkSession,
    pages: DataFrame,
    entity_dim: DataFrame,
    min_cooccur: int = 3,
    triples_sink: SnapshotTable | None = None,
    run_id: str | None = None,
) -> KGResult:
    """Pages and an alias dim in; docs, links, nodes and triples out.

    ``links`` (doc_id, entity_id, entity_type) is distinct per (doc,
    entity) and always persisted. Co-occurrence runs uncapped over
    xxhash64-encoded ids whenever the hash is injective on the dim's
    canonical ids (checked on the collected dim, no extra action), and
    over the id strings otherwise; the triples are identical either way.

    The alias dim is collected to the driver and every Python worker
    builds its scanner from it, so a dim over ``_AC_MAX_ALIASES`` rows or
    ``_AC_MAX_CHARS`` distinct lowered alias chars raises ``ValueError``."""
    # ① extract + prune html immediately (keep bytes out of every shuffle)
    docs = extract_pages(pages).filter(F.length("text") > 0)

    # ②–⑤ one row-bounded collect feeds both size guards, the union-find
    # components, the composed alias → (resolved id, type) map and ⑥'s
    # id-hash check. It stops one row past the bound, so an oversized dim
    # never reaches the driver whole. dim rows ≥ distinct aliases, so the
    # row guard is at least as strict as a distinct-alias guard; the exact
    # char guard runs on the collected aliases before anything big is
    # built.
    dim_rows = (
        resolve_obsolete(entity_dim)
        .select(
            # alias case-fold in SQL, not Python: the scan lowers doc text
            # engine-side, and the dictionary side must fold identically
            # (Python str.lower diverges on some Unicode)
            F.lower("alias").alias("alias_lc"),
            "alias",
            "canonical_id",
            "entity_type",
            _hash_ids(F.col("canonical_id")).alias("id_hash"),
        )
        .limit(_AC_MAX_ALIASES + 1)
        .collect()
    )
    if len(dim_rows) > _AC_MAX_ALIASES:
        raise ValueError(_TOO_LARGE)
    if sum(len(a) for a in {r["alias_lc"] for r in dim_rows}) > _AC_MAX_CHARS:
        raise ValueError(_TOO_LARGE)
    # the link map (alias → canonical) and the component map (canonical →
    # resolved) compose driver-side, and every mention of a doc is found
    # in that doc's scan task, so deduping per doc in the worker yields
    # distinct (doc, entity, type) rows with no link join and no distinct
    # shuffle. Equality with the unfused scan → link → component-join →
    # distinct chain is pinned by test_pipeline.
    comp = _union_find_components(
        (r["alias"], r["canonical_id"]) for r in dim_rows
    )
    # link_mentions' dedup contract: case-duplicate dim rows collapse per
    # (alias, canonical) with MIN entity_type (nulls lose)
    per_ac: dict[tuple[str, str], tuple[str, str]] = {}
    for r in dim_rows:
        k = (r["alias_lc"], r["canonical_id"])
        v = (comp[r["canonical_id"]], r["entity_type"])
        cur = per_ac.get(k)
        if cur is None or cur[1] is None or (v[1] is not None and v[1] < cur[1]):
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
    # links feed three consumers (nodes, co-occurrence, metrics); without
    # a persist each downstream action re-runs extraction + mention scan
    links = links.persist()

    # node table: one row per resolved entity
    nodes = links.groupBy("entity_id").agg(
        F.min("entity_type").alias("entity_type"),
        F.countDistinct("doc_id").alias("doc_count"),
    )

    # ⑥ co-occurrence triples. Pair explosion and count run over long
    # keys when the hash is injective on the collected canonical ids.
    # Every id ``links`` can carry is a union-find root, so one of those
    # ids: the check is exact and costs no action. On a collision the
    # same plan runs over the id strings.
    id_hashes = {r["canonical_id"]: r["id_hash"] for r in dim_rows}
    encode = len(set(id_hashes.values())) == len(id_hashes)
    ent = F.col("entity_id")
    co = cooccurrence_edges(
        links.select("doc_id", (_hash_ids(ent) if encode else ent).alias("entity_id")),
        doc_col="doc_id",
        ent_col="entity_id",
        min_count=min_cooccur,
    )
    if encode:
        # decode AFTER the min_count filter (smallest join input) through
        # broadcasts of the link vocabulary, which the dim's row guard
        # bounds; restore subj < obj in STRING order, which hash order
        # does not follow
        ids = links.select("entity_id").distinct()

        def decode(key, name):
            return F.broadcast(ids.select(_hash_ids(ent).alias(key), ent.alias(name)))

        co = (
            co.join(decode("subj", "_s"), "subj")
            .join(decode("obj", "_o"), "obj")
            .select(
                F.least("_s", "_o").alias("subj"),
                F.greatest("_s", "_o").alias("obj"),
                "shared_docs",
                "confidence",
            )
        )
    triples = co.select(
        F.col("subj"),
        F.lit("CO_OCCURS_WITH").alias("pred"),
        F.col("obj"),
        F.col("shared_docs").alias("weight"),
        F.col("confidence"),
    )

    # ⑦ idempotent materialization
    if triples_sink is not None:
        triples_sink.merge_append(triples, run_id=run_id)

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
) -> dict:
    """Process ONLY a new batch of pages and fold its co-occurrence counts
    into a long-lived counter table — the operational shape a 10¹²-doc
    corpus actually needs (daily Common-Crawl increments), where a full
    rebuild per crawl is not an option.

    Correctness rests on one algebraic fact: ``shared_docs(a, b)`` is a
    count of DISTINCT documents, and crawl increments are disjoint
    document sets, so per-increment partial counts ADD exactly. Two
    consequences shape the implementation:

    - the increment's pair counts run at ``min_count=1``: a pair below
      today's publication threshold may be promoted by a future
      increment, so the counter table must keep the
      sub-threshold tail (the same tail any exact incremental counter
      keeps; thresholds/tiers are applied at READ time by
      ``published_triples``);
    - the sink is an ``AggregatingSnapshotTable`` (merge-on-read deltas):
      the commit appends only the increment's pre-aggregated partials —
      per-increment cost is proportional to the increment, never to the
      accumulated table — and ``run_id`` makes crashed-and-replayed
      increments exact no-ops (batch-granular exactly-once).

    A replay is answered from the table's manifests before any planning:
    a ``run_id`` that is already committed returns
    ``{"run_id", "rows_added": 0, "replayed": True}`` and runs no Spark job.

    Returns the commit's lineage row. Publication:
    ``published_triples(spark, counts_table, min_cooccur)``.
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
    )
    partial = result.triples.select("subj", "obj", F.col("weight"))
    lineage = counts_table.delta_append(partial, run_id=run_id)
    result.links.unpersist()
    return lineage


def published_triples(
    spark: SparkSession,
    counts_table,
    min_cooccur: int = 3,
) -> DataFrame:
    """The published KG edge view over an incrementally-built counter
    table: merge all deltas (one groupBy over one FileScan), then apply
    the publication threshold and the default confidence tiers to the
    TOTals — identical rows to a from-scratch ``build_kg`` over the union
    of every increment's pages (pinned by test_incremental)."""
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
            confidence_tier(F.col("weight")).alias("confidence"),
        )
    )
