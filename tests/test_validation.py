"""Runtime validation checkpoints (SURVEY.md §5 — the reference's
validation-query machinery re-expressed as one-aggregate rules)."""

from __future__ import annotations

import pytest

from biomedical_knowledge_graph_spark.plans import validation as V


def test_minimum_counts_gate(spark):
    df = spark.createDataFrame(
        [("bp",)] * 30 + [("cc",)] * 5 + [("mf",)] * 12, "ns string"
    )
    rep = V.validate_minimum_counts(
        df, "ns", {"bp": 25, "cc": 3, "mf": 10}
    )
    assert rep.passed
    rep2 = V.validate_minimum_counts(df, "ns", {"bp": 25, "cc": 50, "zz": 1})
    assert not rep2.passed
    failed = {c["name"] for c in rep2.checks if not c["ok"]}
    assert failed == {"min_count[ns=cc]", "min_count[ns=zz]"}
    with pytest.raises(V.ValidationError):
        rep2.require()


def test_expected_vs_actual_counts(spark):
    expected = spark.createDataFrame(
        [("P1", 3), ("P2", 2), ("P3", 1)], "pid string, n_expected long"
    )
    actual = spark.createDataFrame(
        [("P1", 3), ("P2", 5)], "pid string, n_actual long"
    )
    rep = V.validate_expected_counts(actual, expected, key="pid")
    check = rep.checks[0]
    assert not check["ok"]
    assert check["observed"]["mismatches"] == 2  # P2 wrong, P3 missing (0)
    offenders = {s["pid"] for s in check["observed"]["sample"]}
    assert offenders == {"P2", "P3"}
    ok = V.validate_expected_counts(
        actual.filter("pid = 'P1'"), expected.filter("pid = 'P1'"), key="pid"
    )
    assert ok.passed


def test_referential_integrity(spark):
    nodes = spark.createDataFrame([("A",), ("B",)], "entity_id string")
    good = spark.createDataFrame([("A", "B")], "subj string, obj string")
    bad = spark.createDataFrame([("A", "Z")], "subj string, obj string")
    assert V.validate_referential_integrity(
        good, nodes, ["subj", "obj"], "entity_id"
    ).passed
    rep = V.validate_referential_integrity(
        bad, nodes, ["subj", "obj"], "entity_id"
    )
    assert not rep.passed and rep.checks[0]["observed"] == 1


def test_metrics_pass_integrity_and_non_empty_match_validators(spark):
    """The checks the jobs take without a Spark action of their own equal
    the standalone validators: ``collect_all_metrics(checks=...)`` adds
    ``validate_referential_integrity``'s check (all triples, then only
    the ones a predicate keeps; NULL endpoints and NULL node ids
    included), and ``record_non_empty`` adds ``validate_non_empty``'s."""
    from pyspark.sql import functions as F

    from biomedical_knowledge_graph_spark.plans.metrics import collect_all_metrics

    nodes = spark.createDataFrame(
        [("A", "gene"), ("A", "gene"), ("B", "term"), (None, "term")],
        "entity_id string, entity_type string",
    )
    triples = spark.createDataFrame(
        [
            ("A", "CO_OCCURS_WITH", "B", 2, "low"),
            ("A", "CO_OCCURS_WITH", "Z", 3, "low"),
            ("B", "CO_OCCURS_WITH", "Z", 3, "low"),
            ("B", "IS_A", "Y", 1, None),
            ("Y", None, None, 1, None),
        ],
        "subj string, pred string, obj string, weight long, confidence string",
    )
    for pred, want in ((None, 3), (F.col("pred") == "CO_OCCURS_WITH", 1)):
        edges = triples if pred is None else triples.filter(pred)
        ref = V.validate_referential_integrity(
            edges, nodes, ["subj", "obj"], "entity_id"
        )
        got = V.ValidationReport()
        plain = collect_all_metrics(nodes, triples)
        assert collect_all_metrics(nodes, triples, got, pred) == plain
        assert got.checks == ref.checks and ref.checks[0]["observed"] == want
    # over an empty node table (the jobs still run the pass when
    # non_empty[nodes] fails) every endpoint is counted, as there
    got, none = V.ValidationReport(), nodes.limit(0)
    collect_all_metrics(none, triples, got)
    ref = V.validate_referential_integrity(triples, none, ["subj", "obj"], "entity_id")
    assert got.checks == ref.checks
    for df, rows in ((nodes, 4), (nodes.limit(0), 0)):
        assert (
            V.record_non_empty(rows, "n").checks
            == V.validate_non_empty(df, "n").checks
        )


def test_job_report_includes_validation(spark, tmp_path):
    """The build job runs the checkpoint and embeds the report."""
    from biomedical_knowledge_graph_spark import fixtures
    from biomedical_knowledge_graph_spark.jobs.build_kg_job import run

    pages_path = str(tmp_path / "pages")
    dict_path = str(tmp_path / "dict")
    fixtures.pages_df(spark, n_pages=60, seed=5).write.parquet(pages_path)
    fixtures.entity_dict_df(spark).write.parquet(dict_path)
    report = run(
        spark, pages_path, dict_path, str(tmp_path / "out"), run_id="v1",
        min_cooccur=2,
    )
    assert report["validation"]["passed"]
    names = {c["name"] for c in report["validation"]["checks"]}
    assert "referential_integrity" in names
