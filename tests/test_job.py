"""End-to-end job entry: build, resume, lineage, metrics artifact."""

from __future__ import annotations

import json
import os

from biomedical_knowledge_graph_spark import fixtures
from biomedical_knowledge_graph_spark.jobs.build_kg_job import run
from biomedical_knowledge_graph_spark.operators.salting import salt_skewed
from pyspark.sql import functions as F


def test_build_job_end_to_end_and_resume(spark, tmp_path):
    pages_path = str(tmp_path / "pages")
    dict_path = str(tmp_path / "dict")
    out_root = str(tmp_path / "kg")
    fixtures.pages_df(spark, n_pages=200, seed=42).write.parquet(pages_path)
    fixtures.entity_dict_df(spark).write.parquet(dict_path)

    report1 = run(spark, pages_path, dict_path, out_root, run_id="r1")
    assert report1["total_edges"] > 0
    assert report1["total_nodes"] > 0
    assert os.path.exists(os.path.join(out_root, "metrics-r1.json"))

    # resume / rerun: identical inputs → zero new rows, identical metrics
    report2 = run(spark, pages_path, dict_path, out_root, run_id="r2")
    assert report2["total_edges"] == report1["total_edges"]
    assert report2["total_nodes"] == report1["total_nodes"]
    lineage = report2["lineage"]["triples"]
    assert lineage[0]["rows_added"] == report1["total_edges"]
    assert lineage[1]["rows_added"] == 0  # the replay committed nothing
    with open(os.path.join(out_root, "metrics-r2.json")) as f:
        persisted = json.load(f)
    assert persisted["total_edges"] == report1["total_edges"]


def test_salt_skewed_join_equivalence(spark):
    """Salting must not change join results — only the key distribution."""
    fact = spark.createDataFrame(
        [(i, "hub" if i % 3 else f"k{i}", f"d{i}") for i in range(300)],
        "row_id long, key string, doc string",
    )
    dim = spark.createDataFrame(
        [("hub", "H"), ("k3", "V3"), ("k9", "V9")], "key string, val string"
    )
    plain = {
        (r.row_id, r.val) for r in fact.join(dim, "key").select("row_id", "val").collect()
    }
    salted_fact, exploded_dim = salt_skewed(
        fact, dim, key="key", salt_from="doc", n_salts=8
    )
    salted = {
        (r.row_id, r.val)
        for r in salted_fact.join(exploded_dim, ["key", "_salt"])
        .select("row_id", "val")
        .collect()
    }
    assert salted == plain
    # the hub key really is spread over several salt buckets
    spread = (
        salted_fact.filter(F.col("key") == "hub")
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread >= 4


def test_asof_join_matches_pandas_oracle(spark):
    import numpy as np
    import pandas as pd

    from biomedical_knowledge_graph_spark.operators.asof import asof_join

    rng = np.random.RandomState(4)
    base = pd.Timestamp("2024-01-01")
    left_rows = [
        (
            i,
            int(rng.randint(3)),
            (base + pd.Timedelta(seconds=int(rng.randint(1000)))).to_pydatetime(),
        )
        for i in range(60)
    ]
    right_rows = [
        (
            int(rng.randint(3)),
            (base + pd.Timedelta(seconds=int(rng.randint(1000)))).to_pydatetime(),
            float(i),
        )
        for i in range(40)
    ]
    left = spark.createDataFrame(left_rows, "id long, k int, ts timestamp")
    right = spark.createDataFrame(right_rows, "k int, ts timestamp, v double")

    got = {
        r.id: (r.ts_right, r.v_right)
        for r in asof_join(left, right, key="k", ts="ts", right_value_cols=["v"]).collect()
    }
    lp = pd.DataFrame(left_rows, columns=["id", "k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")
    want_df = pd.merge_asof(
        lp, rp, on="ts", by="k", direction="backward", suffixes=("", "_right")
    )
    assert len(got) == 60
    for _, row in want_df.iterrows():
        got_ts, got_v = got[row["id"]]
        if pd.isna(row["v"]):
            assert got_v is None
        else:
            assert got_v == row["v"]
    # every matched ts_right is <= left ts
    for r_id, (ts_r, _) in got.items():
        if ts_r is not None:
            left_ts = dict((i, t) for i, _, t in left_rows)[r_id]
            assert ts_r <= left_ts


def test_full_build_job_phases_and_resume(spark, tmp_path, monkeypatch):
    """The multi-phase orchestrator (§3.1 analogue): ontology phase commits
    term nodes + typed triples, annotation phase links pages against the
    ontology-derived dictionary, metrics/validation/report artifacts land,
    and a replay with the same run-id commits zero new rows."""
    from biomedical_knowledge_graph_spark.jobs import full_build_job as J

    obo = tmp_path / "go.obo"
    obo.write_text(
        "\n".join(
            [
                "format-version: 1.2",
                "",
                "[Term]",
                "id: T:1",
                "name: alpha kinase",
                "namespace: biological_process",
                'synonym: "alpha enzyme" EXACT []',
                'synonym: "loose alias" BROAD []',
                "is_a: T:3 ! parent",
                "",
                "[Term]",
                "id: T:2",
                "name: beta channel",
                "namespace: biological_process",
                "relationship: part_of T:3",
                "",
                "[Term]",
                "id: T:3",
                "name: parent process",
                "namespace: biological_process",
                "",
                # obsolete WITHOUT replaced_by — the norm in real GO files;
                # ANSI element_at([], 1) used to crash phase 2 here (ADVICE r3)
                "[Term]",
                "id: T:4",
                "name: retired process",
                "namespace: biological_process",
                "is_obsolete: true",
                "",
            ]
        )
    )
    pages_path = str(tmp_path / "pages")
    rows = []
    for i in range(30):
        body = "alpha kinase binds beta channel strongly" if i % 2 else "alpha enzyme alone"
        rows.append((f"u{i}", f"<html><body>{body}</body></html>".encode()))
    spark.createDataFrame(rows, "url string, html binary").write.parquet(pages_path)

    # the ontology is parsed ONCE per run and shared across phases
    parse_calls = []
    real_parse = J.read_obo_terms
    monkeypatch.setattr(
        J,
        "read_obo_terms",
        lambda *a, **kw: parse_calls.append(1) or real_parse(*a, **kw),
    )

    out = str(tmp_path / "out")
    report = J.run(spark, str(obo), pages_path, out, run_id="r1", min_cooccur=2)
    assert len(parse_calls) == 1
    assert report["phase1"]["terms"] == 4
    assert report["phase1"]["typed_triples_added"] == 2  # IS_A + PART_OF
    assert report["validation"]["passed"]
    from biomedical_knowledge_graph_spark.sinks.table_format import (
        SnapshotTable as _ST,
    )

    triples_tbl = _ST(f"{out}/triples", key_cols=["subj", "pred", "obj"])
    preds = {r.pred for r in triples_tbl.read(spark).collect()}
    assert {"IS_A", "PART_OF", "CO_OCCURS_WITH"} <= preds
    # 'alpha enzyme' (EXACT synonym) must link to T:1; 'loose alias' must not
    # exist as an alias at all (BROAD excluded)
    import os as _os
    assert _os.path.exists(f"{out}/metrics-r1.json")
    assert _os.path.exists(f"{out}/report-r1.txt")

    total_before = triples_tbl.count(spark)
    report2 = J.run(spark, str(obo), pages_path, out, run_id="r1", min_cooccur=2)
    total_after = triples_tbl.count(spark)
    assert total_after == total_before  # exact no-op replay
    assert report2["phase1"]["typed_triples_added"] == 0


def test_alias_dim_obsolete_without_replaced_by(spark, tmp_path):
    """ANSI regression (ADVICE r3 high): an obsolete term with NO
    replaced_by (parser default []) must yield a NULL replaced_by in the
    alias dim, not INVALID_ARRAY_INDEX_IN_ELEMENT_AT."""
    from biomedical_knowledge_graph_spark.jobs import full_build_job as J
    from biomedical_knowledge_graph_spark.sources.readers import read_obo_terms

    obo = tmp_path / "obsolete.obo"
    obo.write_text(
        "\n".join(
            [
                "format-version: 1.2",
                "",
                "[Term]",
                "id: X:1",
                "name: gone without successor",
                'synonym: "gone alias" EXACT []',
                "is_obsolete: true",
                "",
                "[Term]",
                "id: X:2",
                "name: gone with successor",
                "is_obsolete: true",
                "replaced_by: X:3",
                "",
                "[Term]",
                "id: X:3",
                "name: live term",
                "",
            ]
        )
    )
    dim = J.alias_dim_from_terms(read_obo_terms(spark, str(obo)))
    rows = {r.alias: r for r in dim.collect()}  # would raise pre-fix
    assert rows["gone without successor"].replaced_by is None
    assert rows["gone alias"].replaced_by is None
    assert rows["gone with successor"].replaced_by == "X:3"
    assert rows["live term"].replaced_by is None


def test_full_build_job_writes_one_file_per_bucket(spark, tmp_path):
    """File-count regression gate: one ``full_build_job.run`` over a
    400-term ontology leaves at most 16 parquet files (one per
    ``_bucket``) in every ``_snap`` dir of both tables. Writing straight
    off the upstream stage put a file per task in every bucket: 120 files
    in one triples snapshot at 8 shuffle partitions."""
    import glob

    from biomedical_knowledge_graph_spark.jobs import full_build_job as J

    lines = ["format-version: 1.2", ""]
    for i in range(400):
        lines += [
            "[Term]",
            f"id: T:{i}",
            f"name: term{i} process",
            "namespace: biological_process",
        ]
        if i:
            lines.append(f"is_a: T:{(i - 1) // 2} ! parent")
        lines.append("")
    obo = tmp_path / "go.obo"
    obo.write_text("\n".join(lines))
    pages_path = str(tmp_path / "pages")
    rows = [
        (
            f"u{i}",
            f"<html><body>term{i} process binds term{i + 1} process"
            "</body></html>".encode(),
        )
        for i in range(60)
    ]
    spark.createDataFrame(rows, "url string, html binary").write.parquet(pages_path)
    out = str(tmp_path / "out")
    J.run(spark, str(obo), pages_path, out, run_id="r1", min_cooccur=1)
    for table in ("triples", "nodes"):
        snaps = glob.glob(f"{out}/{table}/data/_snap=*")
        assert snaps
        for snap_dir in snaps:
            files = glob.glob(f"{snap_dir}/_bucket=*/*.parquet")
            assert 0 < len(files) <= 16, (snap_dir, len(files))
