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
    # edge table bucketed by subject hash (Iceberg bucket(16, subj)
    # analogue): point lookups and subj-keyed joins prune to one bucket
    triples_sink = SnapshotTable(
        os.path.join(out_root, "triples"),
        key_cols=["subj", "pred", "obj"],
        bucket_expr="pmod(xxhash64(subj), 16)",
        # long-lived table: bound snapshot-file growth (Iceberg
        # rewrite_data_files maintenance analogue)
        compact_after=16,
    )
    nodes_sink = SnapshotTable(
        os.path.join(out_root, "nodes"),
        key_cols=["entity_id"],
        bucket_expr="pmod(xxhash64(entity_id), 16)",
        compact_after=16,
    )
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

    # per-phase validation checkpoint (reference: go_kg_builder.py:2159-2296
    # runtime validation queries): committed edges must reference committed
    # nodes, and both tables must be non-empty — fail the job rather than
    # report metrics over a half-built graph. The non-empty checks read
    # the sinks' parquet footers and referential integrity rides the
    # metrics' per-id pass: one Spark action
    vreport = V.ValidationReport()
    V.record_non_empty(nodes_sink.count(), "nodes", vreport)
    V.record_non_empty(triples_sink.count(), "triples", vreport)
    nodes_df, triples_df = nodes_sink.read(spark), triples_sink.read(spark)
    if nodes_df is None or triples_df is None:
        vreport.require()  # a table with no commit: non_empty failed
    report = collect_all_metrics(nodes_df, triples_df, checks=vreport)
    vreport.require()

    report["validation"] = vreport.to_dict()
    report["lineage"] = {
        "triples": triples_sink.lineage(),
        "nodes": nodes_sink.lineage(),
    }
    with open(os.path.join(out_root, f"metrics-{run_id}.json"), "w") as f:
        json.dump(report, f, indent=2)
    return report


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
