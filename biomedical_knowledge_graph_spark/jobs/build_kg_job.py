"""End-to-end KG build job.

Cluster launch (the production shape):

    zip -r bkg.zip biomedical_knowledge_graph_spark
    spark-submit --py-files bkg.zip \
        biomedical_knowledge_graph_spark/jobs/build_kg_job.py \
        --pages <iceberg-or-parquet path> --dict <alias dim path> \
        --out <table root> --run-id <id>

Local smoke: python -m biomedical_knowledge_graph_spark.jobs.build_kg_job ...

The job is resumable: rerunning with the same inputs and --out commits zero
new triples (key-based MERGE), and every commit leaves a lineage row
(snapshot id, run id, rows added, wall time) queryable from the table root.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession

from biomedical_knowledge_graph_spark.plans import validation as V
from biomedical_knowledge_graph_spark.plans.metrics import collect_all_metrics
from biomedical_knowledge_graph_spark.plans.pipeline import build_kg
from biomedical_knowledge_graph_spark.session import get_spark
from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable


def kg_sinks(out_root: str) -> tuple[SnapshotTable, SnapshotTable]:
    """The (triples, nodes) tables under ``out_root``. Both are bucketed by
    a key hash (Iceberg bucket(16, subj) analogue: point lookups and keyed
    joins prune to one bucket) and, being long-lived, compacted every 16
    snapshots (Iceberg rewrite_data_files maintenance analogue)."""

    def table(name: str, key_cols: list[str]) -> SnapshotTable:
        return SnapshotTable(
            os.path.join(out_root, name),
            key_cols=key_cols,
            bucket_expr=f"pmod(xxhash64({key_cols[0]}), 16)",
            compact_after=16,
        )

    return table("triples", ["subj", "pred", "obj"]), table("nodes", ["entity_id"])


def validate_and_report(
    spark: SparkSession,
    triples_sink: SnapshotTable,
    nodes_sink: SnapshotTable,
    out_root: str,
    run_id: str,
    collect_metrics,
    extra: dict | None = None,
    **metric_kwargs,
) -> dict:
    """The build jobs' last phase: validation checkpoint and golden
    metrics in one Spark action, written to ``metrics-<run_id>.json``.

    Committed edges must reference committed nodes and both tables must be
    non-empty (reference: go_kg_builder.py:2159-2296 runtime validation
    queries), or the job fails with ``ValidationError`` before anything is
    written, rather than report metrics over a half-built graph. The
    non-empty checks read the sinks' parquet footers and referential
    integrity rides ``collect_metrics``' per-id pass; ``metric_kwargs`` go
    to it. ``extra`` keys land in the report before ``validation`` and
    ``lineage``."""
    vreport = V.ValidationReport()
    V.record_non_empty(nodes_sink.count(), "nodes", vreport)
    V.record_non_empty(triples_sink.count(), "triples", vreport)
    nodes_df, triples_df = nodes_sink.read(spark), triples_sink.read(spark)
    if nodes_df is None or triples_df is None:
        vreport.require()  # a table with no commit: non_empty failed
    report = collect_metrics(nodes_df, triples_df, checks=vreport, **metric_kwargs)
    vreport.require()

    report.update(extra or {})
    report["validation"] = vreport.to_dict()
    report["lineage"] = {
        "triples": triples_sink.lineage(),
        "nodes": nodes_sink.lineage(),
    }
    with open(os.path.join(out_root, f"metrics-{run_id}.json"), "w") as f:
        json.dump(report, f, indent=2)
    return report


def run(
    spark: SparkSession,
    pages_path: str,
    dict_path: str,
    out_root: str,
    run_id: str,
    min_cooccur: int = 3,
) -> dict:
    pages = spark.read.parquet(pages_path)
    entity_dim = spark.read.parquet(dict_path)
    triples_sink, nodes_sink = kg_sinks(out_root)
    result = build_kg(
        spark,
        pages,
        entity_dim,
        min_cooccur=min_cooccur,
        triples_sink=triples_sink,
        run_id=run_id,
    )
    nodes_sink.merge_append(result.nodes, run_id=run_id)
    result.links.unpersist()
    return validate_and_report(
        spark, triples_sink, nodes_sink, out_root, run_id, collect_all_metrics
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--dict", dest="dict_path", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--min-cooccur", type=int, default=3)
    args = ap.parse_args()
    spark = get_spark("bkg-build-job")
    report = run(
        spark,
        args.pages,
        args.dict_path,
        args.out,
        args.run_id,
        args.min_cooccur,
    )
    print(json.dumps({k: v for k, v in report.items() if k != "lineage"}))


if __name__ == "__main__":
    main()
