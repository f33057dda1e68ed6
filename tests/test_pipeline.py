"""End-to-end P/R gate: Spark pipeline triples vs an independent pure-Python
reference ruleset (BASELINE.md target: P/R ≥ 0.95)."""

from __future__ import annotations

import datetime as dt

import pytest
from kg_reference import triples_from_links, unfused_links
from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark import fixtures
from biomedical_knowledge_graph_spark.operators.cooccurrence import (
    cooccurrence_edges,
)
from biomedical_knowledge_graph_spark.plans import pipeline
from biomedical_knowledge_graph_spark.plans.pipeline import (
    build_kg,
    build_kg_increment,
    published_triples,
)
from biomedical_knowledge_graph_spark.sinks.table_format import (
    AggregatingSnapshotTable,
    SnapshotTable,
)


def test_triples_match_reference_ruleset(spark, tmp_path):
    pages_pdf = fixtures.pages_pdf(n_pages=250, seed=42)
    pages = spark.createDataFrame(pages_pdf, schema=fixtures.PAGES_SCHEMA)
    dim = fixtures.entity_dict_df(spark)

    sink = SnapshotTable(str(tmp_path / "triples"), key_cols=["subj", "pred", "obj"])
    result = build_kg(spark, pages, dim, min_cooccur=3, triples_sink=sink)

    got = {
        (r.subj, r.pred, r.obj) for r in result.triples.collect()
    }
    want = fixtures.reference_triples(pages_pdf, min_count=3)
    assert want, "reference ruleset produced no triples — fixture too small"

    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want)
    assert precision >= 0.95, f"precision {precision:.3f}; diff={got - want}"
    assert recall >= 0.95, f"recall {recall:.3f}; diff={want - got}"

    # sink got the same triples, exactly once
    sink.assert_unique_keys(spark)
    assert sink.count() == len(got)

    # rerun over the same input: resume contract — nothing new lands
    again = build_kg(spark, pages, dim, min_cooccur=3, triples_sink=sink)
    assert sink.count() == len(got)
    assert again is not None


def test_obsolete_aliases_remap(spark):
    pages = spark.createDataFrame(
        fixtures.pages_pdf(n_pages=120, seed=9), schema=fixtures.PAGES_SCHEMA
    )
    dim = fixtures.entity_dict_df(spark)
    result = build_kg(spark, pages, dim, min_cooccur=2)
    ids = {r.entity_id for r in result.links.select("entity_id").distinct().collect()}
    assert "ENT:0000012" not in ids  # obsolete id never appears
    # shared-alias pair collapsed: ENT:0000010 resolved into ENT:0000009
    assert "ENT:0000010" not in ids


def test_triples_invariant_under_partitioning(spark):
    """The emitted triple set must be a pure function of the data — any
    input partitioning / parallelism yields identical output (the property
    that makes the N vs 4N runs comparable and resume safe)."""
    from pyspark.sql import functions as F

    pages_pdf = fixtures.pages_pdf(n_pages=150, seed=21)
    dim = fixtures.entity_dict_df(spark)
    base = spark.createDataFrame(pages_pdf, schema=fixtures.PAGES_SCHEMA)
    out = []
    for n_parts in (2, 16):
        pages = base.repartition(n_parts, F.col("url"))
        triples = build_kg(spark, pages, dim, min_cooccur=2).triples
        out.append(sorted(tuple(r) for r in triples.collect()))
    assert out[0] == out[1]
    assert out[0], "empty triple set makes this test vacuous"


def test_fused_ac_links_equal_unfused_chain(spark):
    """build_kg's fused scan+link+canonicalize+dedup must produce EXACTLY
    the unfused chain's links and triples — including obsolete remaps,
    shared-alias component resolution, and multi-entity aliases — on two
    corpora."""
    dim = fixtures.entity_dict_df(spark)
    for pages in (
        spark.createDataFrame(
            fixtures.pages_pdf(n_pages=200, seed=7), schema=fixtures.PAGES_SCHEMA
        ),
        fixtures.pages_df(spark, n_pages=120, seed=3),
    ):
        fused = build_kg(spark, pages, dim, min_cooccur=2)
        want_links = {tuple(r) for r in unfused_links(spark, pages, dim).collect()}
        got_links = {
            (r.doc_id, r.entity_id, r.entity_type) for r in fused.links.collect()
        }
        assert got_links == want_links and len(got_links) > 0
        want_triples = triples_from_links(spark, want_links, min_cooccur=2)
        got_triples = {tuple(r) for r in fused.triples.collect()}
        assert got_triples == want_triples and len(got_triples) > 0
        fused.links.unpersist()


def _punctuation_inputs(spark):
    html = [
        b"<html><body><p>Loss of BRCA1, TP53 and apoptosis.</p></body></html>",
        b"<html><body><p>BRCA1 TP53 apoptosis</p></body></html>",
    ]
    pages = spark.createDataFrame(
        [
            (f"http://p/{i}", dt.datetime(2024, 1, 1), h, None, "en")
            for i, h in enumerate(html)
        ],
        schema=fixtures.PAGES_SCHEMA,
    )
    dim = spark.createDataFrame(
        [
            ("BRCA1", "G:1", "gene", "ns", False, None),
            ("TP53", "G:2", "gene", "ns", False, None),
            ("apoptosis", "T:1", "term", "ns", False, None),
        ],
        schema=fixtures.ENTITY_DICT_SCHEMA,
    )
    return pages, dim


_PUNCT_PAIRS = {("G:1", "G:2"), ("G:1", "T:1"), ("G:2", "T:1")}


def test_punctuated_mentions_count_toward_weight(spark, tmp_path):
    """"BRCA1," and "apoptosis." are mentions: with a bare second page,
    every pair of the three entities has weight 2, in a full build and
    in an incremental one."""
    pages, dim = _punctuation_inputs(spark)
    full = build_kg(spark, pages, dim, min_cooccur=2)
    got = {(r.subj, r.obj, r.weight) for r in full.triples.collect()}
    assert got == {(a, b, 2) for a, b in _PUNCT_PAIRS}
    full.links.unpersist()

    table = AggregatingSnapshotTable(
        str(tmp_path / "counts"), key_cols=["subj", "obj"], agg_spec={"weight": "sum"}
    )
    build_kg_increment(spark, pages, dim, table, run_id="punct-0")
    published = published_triples(spark, table, min_cooccur=2)
    got = {(r.subj, r.obj, r.weight) for r in published.collect()}
    assert got == {(a, b, 2) for a, b in _PUNCT_PAIRS}


def test_alias_dictionary_size_guards(spark, monkeypatch):
    """A dictionary over either bound fails before any corpus work."""
    pages, dim = _punctuation_inputs(spark)
    monkeypatch.setattr(pipeline, "_AC_MAX_ALIASES", 2)
    with pytest.raises(ValueError, match="too large"):
        build_kg(spark, pages, dim)
    monkeypatch.setattr(pipeline, "_AC_MAX_ALIASES", 3)
    monkeypatch.setattr(pipeline, "_AC_MAX_CHARS", len("brca1tp53apoptosis") - 1)
    with pytest.raises(ValueError, match="too large"):
        build_kg(spark, pages, dim)


def test_apriori_prune_is_exact(spark):
    """Round 4: the a-priori df prune (entities in < min_count docs cannot
    form a surviving pair) must not change the output. ``"auto"`` prunes
    these persisted long-tailed links; compare against the unpruned
    default under both the plain and input_distinct df paths."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )

    rows = []
    # frequent entities A,B co-occur in 5 docs; C occurs in 2 docs (rare
    # at min_count=3); D once; duplicates included to exercise the
    # non-distinct df path
    for d in range(5):
        rows += [(f"d{d}", "A"), (f"d{d}", "B"), (f"d{d}", "A")]
    rows += [("d0", "C"), ("d1", "C"), ("d2", "D")]
    links = spark.createDataFrame(rows, "doc_id string, canonical_id string").persist()
    distinct = links.distinct().persist()
    want = sorted(map(tuple, cooccurrence_edges(links, min_count=3).collect()))
    assert len(want) == 1  # only (A, B) survives
    for frame, input_distinct in ((links, False), (distinct, True)):
        log: dict = {}
        got = cooccurrence_edges(
            frame,
            min_count=3,
            prune_rare="auto",
            decision_log=log,
            input_distinct=input_distinct,
        )
        assert sorted(map(tuple, got.collect())) == want, input_distinct
        assert log["prune_rare"] is True, input_distinct
    distinct.unpersist()
    links.unpersist()


def test_prune_rare_auto_mode(spark):
    """Round 5 (VERDICT r4 items 2/7): prune_rare='auto' probes the exact
    df distribution and decides per-input; output is identical to the
    unpruned default either way, and the decision (plus the measured
    rare-row fraction) lands in the caller's decision_log."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )

    # long-tailed input: 3 of 15 link rows (= 20% > 10% threshold) carry
    # sub-min_count entities -> auto prunes
    rows = []
    for d in range(5):
        rows += [(f"d{d}", "A"), (f"d{d}", "B")]
    rows += [("d0", "C"), ("d1", "C"), ("d2", "D"), ("d0", "E"), ("d3", "F")]
    # persisted: auto mode only probes persisted inputs (r6 contract)
    tailed = spark.createDataFrame(
        rows, "doc_id string, canonical_id string"
    ).persist()
    want = sorted(
        map(
            tuple,
            cooccurrence_edges(tailed, min_count=3, prune_rare=False).collect(),
        )
    )
    log: dict = {}
    got = sorted(
        map(
            tuple,
            cooccurrence_edges(
                tailed, min_count=3, prune_rare="auto", decision_log=log
            ).collect(),
        )
    )
    assert got == want
    assert log["prune_rare"] is True and log["prune_rare_mode"] == "auto"
    assert abs(log["rare_row_frac"] - 5 / 15) < 1e-6  # logged at 6 dp

    # dense input: every entity is frequent -> auto skips the prune
    dense_rows = [
        (f"d{d}", e) for d in range(4) for e in ("A", "B", "C")
    ]
    dense = spark.createDataFrame(
        dense_rows, "doc_id string, canonical_id string"
    ).persist()
    want_dense = sorted(
        map(tuple, cooccurrence_edges(dense, min_count=3).collect())
    )
    log2: dict = {}
    got_dense = sorted(
        map(
            tuple,
            cooccurrence_edges(
                dense, min_count=3, prune_rare="auto", decision_log=log2
            ).collect(),
        )
    )
    assert got_dense == want_dense and len(got_dense) == 3
    assert log2["prune_rare"] is False and log2["rare_row_frac"] == 0.0


def test_auto_probes_skip_unpersisted_input(spark):
    """VERDICT r5 item 5: the auto-mode probes are driver ACTIONS over
    ``links``; on an unpersisted frame they silently re-run everything
    upstream. The contract is code, not docstring: an unpersisted input
    skips BOTH probes (prune off, encoding off, decision_log notes) —
    proven here with a poisoned frame whose evaluation raises, so ANY
    probe action at call time would blow up the construction itself."""
    import pytest
    from pyspark.sql import functions as F
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )

    base = spark.createDataFrame(
        [("d0", "A"), ("d0", "B"), ("d1", "A")],
        "doc_id string, canonical_id string",
    )
    poisoned = base.select(
        "doc_id",
        F.raise_error(F.lit("upstream scan ran")).cast("string").alias(
            "canonical_id"
        ),
    )
    log: dict = {}
    # plan construction must NOT run any action on the poisoned frame
    out = cooccurrence_edges(
        poisoned,
        min_count=3,
        prune_rare="auto",
        encode_ids=True,
        decision_log=log,
    )
    assert log["prune_rare_mode"] == "auto-skipped-unpersisted"
    assert log["encode_ids_skipped_unpersisted"] is True
    # the frame itself is genuinely poisoned — forcing it raises
    with pytest.raises(Exception, match="upstream scan ran"):
        out.collect()
    # output parity: unpersisted auto (probes skipped) == the default
    want = sorted(map(tuple, cooccurrence_edges(base, min_count=1).collect()))
    got = sorted(
        map(tuple, cooccurrence_edges(base, min_count=1, prune_rare="auto").collect())
    )
    assert got == want
    # persisting the frame restores the probes: the probe runs and logs
    base.persist()
    log2: dict = {}
    cooccurrence_edges(
        base, min_count=3, prune_rare="auto", decision_log=log2
    ).collect()
    assert log2["prune_rare_mode"] == "auto"
    base.unpersist()


def test_encode_probe_rides_prune_probe(spark, sql_executions):
    """With ``prune_rare="auto"`` and ``encode_ids`` both on, the
    injectivity probe is folded into the prune probe's aggregate: one
    action at plan time instead of two, the same ``decision_log`` as
    without encoding, and the string path's output, whether the prune
    fires (long-tailed input) or not (dense input)."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )

    tailed = [(f"d{d}", e) for d in range(5) for e in ("A", "B")]
    tailed += [("d0", "C"), ("d1", "C"), ("d2", "D"), ("d0", "E"), ("d3", "F")]
    dense = [(f"d{d}", e) for d in range(4) for e in ("A", "B", "C")]
    for rows, pruned in ((tailed, True), (dense, False)):
        links = spark.createDataFrame(
            rows, "doc_id string, canonical_id string"
        ).persist()
        try:
            logs, outs = [], []
            for encode in (False, True):
                log: dict = {}
                n = sql_executions(
                    lambda: outs.append(
                        cooccurrence_edges(
                            links,
                            min_count=3,
                            prune_rare="auto",
                            encode_ids=encode,
                            decision_log=log,
                        )
                    )
                )
                assert n == 1
                logs.append(log)
            assert logs[0] == logs[1] and logs[0]["prune_rare"] is pruned
            want, got = (sorted(map(tuple, o.collect())) for o in outs)
            assert got == want and len(got) == (1 if pruned else 3)
        finally:
            links.unpersist()


def test_pipeline_lineage_records_prune_decision(spark, tmp_path):
    """build_kg(prune_rare='auto') surfaces the co-occurrence plan
    decision in the snapshot sink's lineage row (VERDICT r4 item 7)."""
    pages = spark.createDataFrame(
        fixtures.pages_pdf(n_pages=60, seed=7), schema=fixtures.PAGES_SCHEMA
    )
    dim = fixtures.entity_dict_df(spark)
    sink = SnapshotTable(
        str(tmp_path / "triples"), key_cols=["subj", "pred", "obj"]
    )
    build_kg(spark, pages, dim, triples_sink=sink, run_id="r5auto")
    row = sink.lineage()[-1]
    assert row["run_id"] == "r5auto"
    co = row["cooccurrence"]
    assert co["prune_rare_mode"] == "auto"
    assert isinstance(co["prune_rare"], bool)


def test_pair_parallelism_reaches_pair_stage(spark):
    """pair_parallelism controls the partition count of the
    pair-explosion input (it exists because AQE coalesces that stage by
    its INPUT bytes and starves the output-explosive explode; an explicit
    repartition(n) is exempt from AQE coalescing): "auto" pins 3×
    defaultParallelism, None adds no repartition, and no other value is
    accepted."""
    from biomedical_knowledge_graph_spark.operators.cooccurrence import (
        cooccurrence_edges,
    )

    links = spark.createDataFrame(
        [(f"d{i}", f"E{i % 7:02d}") for i in range(200)],
        "doc_id string, canonical_id string",
    )
    n = 3 * spark.sparkContext.defaultParallelism
    for setting, present in (("auto", True), (None, False)):
        edges = cooccurrence_edges(links, min_count=1, pair_parallelism=setting)
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert ("REPARTITION_BY_NUM" in plan) is present, (setting, plan)
        if present:
            assert f"RoundRobinPartitioning({n}), REPARTITION_BY_NUM" in plan, plan
        edges.count()  # and executes
    # the deleted values (an int count, a forced prune) fail loudly
    for kwargs in ({"pair_parallelism": 13}, {"prune_rare": True}):
        with pytest.raises(ValueError, match="takes"):
            cooccurrence_edges(links, min_count=1, **kwargs)


def test_build_kg_plan_time_actions(spark, sql_executions):
    """Building the plans runs two Spark actions before anything is forced
    or committed: the alias-dim collect and one co-occurrence probe (the
    df-prune probe with the injectivity check folded in; at
    build_kg_increment's min_count=1 the prune is ineligible and the
    injectivity probe runs alone)."""
    pages = spark.createDataFrame(
        fixtures.pages_pdf(n_pages=60, seed=7), schema=fixtures.PAGES_SCHEMA
    )
    dim = fixtures.entity_dict_df(spark)
    results = []
    assert sql_executions(lambda: results.append(build_kg(spark, pages, dim))) == 2
    results[0].links.unpersist()

    class Recorder:
        """A counts table that records the delta instead of writing it."""

        def committed_run_ids(self):
            return set()

        def delta_append(self, df, run_id):
            self.delta = df
            return {"run_id": run_id}

    table = Recorder()
    assert sql_executions(lambda: build_kg_increment(spark, pages, dim, table, "r0")) == 2
    assert table.delta.columns == ["subj", "obj", "weight"]
