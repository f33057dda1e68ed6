"""Full multi-phase KG build — the Spark analogue of the reference's top
entry point `build_complete_biomedical_kg.py::main()` (SURVEY.md §3.1).

The reference runs each stage as a separate Python process with Neo4j as
the only shared state; here the stages are DAG segments over shared
snapshot tables, with per-phase validation checkpoints and per-commit
lineage replacing subprocess exit codes:

  Phase 1  foundation  — parse the ontology (OBO), commit term nodes and
           typed term→term edges (IS_A + relationship: lines) as triples
           (ref go_kg_builder.py:310-790);
  Phase 2  annotation  — derive the alias dictionary from term names +
           EXACT synonyms (the reference's broadcast lookups,
           go_kg_builder.py:237-304), scan/link the page corpus, commit
           CO_OCCURS_WITH triples + entity nodes (build_kg);
  Phase 3  validation + golden metrics + text report
           (ref go_kg_builder.py:2225-2358).

Each phase commits through the idempotent key-based MERGE sink, so a
crashed run resumes by re-running the job with the same --run-id: already
committed keys anti-join away (the reference's offset-skip resume,
order-robust).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.jobs.build_kg_job import (
    kg_sinks,
    validate_and_report,
)
from biomedical_knowledge_graph_spark.plans import validation as V
from biomedical_knowledge_graph_spark.plans.metrics import (
    collect_all_metrics,
    format_report,
)
from biomedical_knowledge_graph_spark.plans.pipeline import build_kg
from biomedical_knowledge_graph_spark.session import get_spark
from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable
from biomedical_knowledge_graph_spark.sources.readers import read_obo_terms


def ontology_phase(
    spark: SparkSession,
    terms,
    triples_sink: SnapshotTable,
    nodes_sink: SnapshotTable,
    run_id: str,
) -> dict:
    """Phase 1: ontology terms → nodes + typed term→term triples.

    ``terms``: the parsed (and ideally persisted) OBO frame — the caller
    parses ONCE and shares it with phase 2's alias dictionary (round-3,
    VERDICT r2 item 8: ontologies are dim-sized, but re-parsing between
    phases was still a free double scan)."""
    nodes = terms.filter(~F.col("is_obsolete")).select(
        F.col("term_id").alias("entity_id"),
        F.lit("term").alias("entity_type"),
        F.lit(0).cast("long").alias("doc_count"),
    )
    typed = (
        terms.select("term_id", F.explode("relationships").alias("r"))
        .select(
            F.col("term_id").alias("subj"),
            F.col("r.rel_type").alias("pred"),
            F.col("r.target").alias("obj"),
            F.lit(1).cast("long").alias("weight"),
            F.lit("ontology").alias("confidence"),
        )
    )
    lineage_nodes = nodes_sink.merge_append(nodes, run_id=run_id)
    lineage_triples = triples_sink.merge_append(typed, run_id=run_id)
    n_terms = terms.count()
    report = V.record_non_empty(n_terms, "ontology_terms").to_dict()
    return {
        "terms": n_terms,
        "nodes_added": lineage_nodes["rows_added"],
        "typed_triples_added": lineage_triples["rows_added"],
        "validation": report,
    }


def alias_dim_from_terms(terms) -> "object":
    """The reference's broadcast lookup tables (name → id, synonym → id,
    alt_id remap; go_kg_builder.py:237-304) as one alias dim in the
    linking contract's shape."""
    names = terms.select(
        F.col("name").alias("alias"),
        F.col("term_id").alias("canonical_id"),
        F.lit("term").alias("entity_type"),
        F.coalesce(F.col("namespace"), F.lit("unknown")).alias("namespace"),
        "is_obsolete",
        # the parsed terms carry ALL replaced_by values (array, reference
        # parity); the linking remap contract wants one target — first.
        # try_element_at: the parser defaults replaced_by to [] (obsolete
        # terms without a replacement are the norm in real GO), and ANSI
        # element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on empty.
        F.try_element_at(F.col("replaced_by"), F.lit(1)).alias("replaced_by"),
    ).filter(F.col("alias").isNotNull())
    synonyms = (
        terms.select(
            F.explode("synonym_details").alias("s"),
            "term_id",
            "namespace",
            "is_obsolete",
            "replaced_by",
        )
        .filter(F.col("s.scope") == "EXACT")  # EXACT synonyms are link-safe
        .select(
            F.col("s.text").alias("alias"),
            F.col("term_id").alias("canonical_id"),
            F.lit("term").alias("entity_type"),
            F.coalesce(F.col("namespace"), F.lit("unknown")).alias("namespace"),
            "is_obsolete",
            F.try_element_at(F.col("replaced_by"), F.lit(1)).alias("replaced_by"),
        )
    )
    return names.unionByName(synonyms)


def run(
    spark: SparkSession,
    obo_path: str,
    pages_path: str,
    out_root: str,
    run_id: str,
    min_cooccur: int = 2,
    namespace: str | None = None,
) -> dict:
    triples_sink, nodes_sink = kg_sinks(out_root)

    # one OBO parse feeds BOTH phases (persisted for the duration)
    terms = read_obo_terms(spark, obo_path, namespace=namespace).persist()
    try:
        # Phase 1 — foundation
        phase1 = ontology_phase(spark, terms, triples_sink, nodes_sink, run_id)

        # Phase 2 — annotate the corpus against the ontology-derived dict
        dim = alias_dim_from_terms(terms)
        pages = spark.read.parquet(pages_path)
        result = build_kg(
            spark,
            pages,
            dim,
            min_cooccur=min_cooccur,
            triples_sink=triples_sink,
            run_id=f"{run_id}-annotation",
        )
        nodes_sink.merge_append(result.nodes, run_id=f"{run_id}-annotation")
        result.links.unpersist()
    finally:
        terms.unpersist()

    # Phase 3 — validation checkpoint + golden metrics + text report.
    # Typed edges may reference foreign-namespace terms that were filtered
    # out (the reference keeps those dangling too and reports them) —
    # check only co-occurrence edges for referential integrity.
    # collect_all_metrics is looked up here, in this module, at call time
    report = validate_and_report(
        spark,
        triples_sink,
        nodes_sink,
        out_root,
        run_id,
        collect_all_metrics,
        extra={"phase1": phase1},
        checked_edges=F.col("pred") == "CO_OCCURS_WITH",
    )
    with open(os.path.join(out_root, f"report-{run_id}.txt"), "w") as f:
        f.write(format_report(report))
    return report


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--obo", required=True)
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="full-0")
    ap.add_argument("--min-cooccur", type=int, default=2)
    ap.add_argument("--namespace", default=None)
    args = ap.parse_args()
    spark = get_spark("bkg-full-build")
    report = run(
        spark, args.obo, args.pages, args.out, args.run_id,
        min_cooccur=args.min_cooccur, namespace=args.namespace,
    )
    print(json.dumps({k: report[k] for k in ("total_nodes", "total_edges")}))


if __name__ == "__main__":
    main()
