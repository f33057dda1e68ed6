"""Unfused reference chain for build_kg's fused mention path.

``build_kg`` scans, links, canonicalizes and dedups mentions in one
Aho-Corasick pass. These helpers compute the same links and triples the
long way round — token-join scan → ``link_mentions`` → union-find
component map → ``cooccurrence_edges`` — so tests can demand exact
equality. Nothing in the package imports this module.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators.cooccurrence import (
    cooccurrence_edges,
)
from biomedical_knowledge_graph_spark.operators.extraction import extract_pages
from biomedical_knowledge_graph_spark.operators.linking import (
    link_mentions,
    resolve_obsolete,
)
from biomedical_knowledge_graph_spark.operators.mentions import (
    scan_mentions_token_join,
)
from biomedical_knowledge_graph_spark.plans.pipeline import (
    _union_find_components,
)


def unfused_links(spark, pages, dim):
    """The unfused ②–⑤ chain: token-join scan → link_mentions → non-null
    filter → join to the union-find component map → distinct."""
    docs = extract_pages(pages).filter(F.length("text") > 0)
    dim_current = resolve_obsolete(dim)
    mentions = scan_mentions_token_join(
        docs, dim_current, id_col="url", text_col="text"
    )
    linked = link_mentions(mentions, dim_current, id_col="url").filter(
        F.col("canonical_id").isNotNull()
    )
    comp = _union_find_components(
        (r.alias, r.canonical_id)
        for r in dim_current.select("alias", "canonical_id").collect()
    )
    comp_map = spark.createDataFrame(
        sorted(comp.items()), "canonical_id string, resolved_id string"
    )
    return (
        linked.join(F.broadcast(comp_map), "canonical_id")
        .select(
            F.col("url").alias("doc_id"),
            F.col("resolved_id").alias("entity_id"),
            "entity_type",
        )
        .distinct()
    )


def triples_from_links(spark, links, min_cooccur):
    """CO_OCCURS_WITH triples, as build_kg emits them, from a set of
    ``(doc_id, entity_id, entity_type)`` link tuples."""
    ref = cooccurrence_edges(
        spark.createDataFrame(
            sorted(links),
            "doc_id string, entity_id string, entity_type string",
        ),
        ent_col="entity_id",
        min_count=min_cooccur,
    )
    return {
        tuple(r)
        for r in ref.select(
            "subj",
            F.lit("CO_OCCURS_WITH").alias("pred"),
            "obj",
            F.col("shared_docs").alias("weight"),
            "confidence",
        ).collect()
    }
