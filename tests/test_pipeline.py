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


def test_auto_probes_skip_unpersisted_input(spark):
    """Building ``cooccurrence_edges`` over a poisoned frame, whose
    evaluation raises, runs no Spark action."""
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
    out = cooccurrence_edges(poisoned, min_count=3)
    # the frame itself is genuinely poisoned — forcing it raises
    with pytest.raises(Exception, match="upstream scan ran"):
        out.collect()


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
    # the deleted value (an int count) fails loudly
    with pytest.raises(ValueError, match="takes"):
        cooccurrence_edges(links, min_count=1, pair_parallelism=13)


def test_build_kg_plan_time_actions(spark, sql_executions):
    """Building the plans runs one Spark action before anything is forced
    or committed: the alias-dim collect, which also carries the id-hash
    injectivity check."""
    pages = spark.createDataFrame(
        fixtures.pages_pdf(n_pages=60, seed=7), schema=fixtures.PAGES_SCHEMA
    )
    dim = fixtures.entity_dict_df(spark)
    results = []
    assert sql_executions(lambda: results.append(build_kg(spark, pages, dim))) == 1
    results[0].links.unpersist()

    class Recorder:
        """A counts table that records the delta instead of writing it."""

        def committed_run_ids(self):
            return set()

        def delta_append(self, df, run_id):
            self.delta = df
            return {"run_id": run_id}

    table = Recorder()
    assert sql_executions(lambda: build_kg_increment(spark, pages, dim, table, "r0")) == 1
    assert table.delta.columns == ["subj", "obj", "weight"]


def test_id_hash_collision_counts_over_strings(spark, monkeypatch):
    """build_kg counts pairs over xxhash64 keys when the hash is injective
    on the dim's canonical ids, and over the id strings when it collides
    (forced here through the ``_hash_ids`` seam); the triples are
    identical either way."""
    pages = spark.createDataFrame(
        fixtures.pages_pdf(n_pages=150, seed=7), schema=fixtures.PAGES_SCHEMA
    )
    dim = fixtures.entity_dict_df(spark)
    out = []
    for hash_ids in (pipeline._hash_ids, lambda c: F.lit(0).cast("long")):
        monkeypatch.setattr(pipeline, "_hash_ids", hash_ids)
        result = build_kg(spark, pages, dim, min_cooccur=2)
        plan = result.triples._jdf.queryExecution().executedPlan().toString()
        out.append((sorted(tuple(r) for r in result.triples.collect()), plan))
        result.links.unpersist()
    (encoded, encoded_plan), (strings, strings_plan) = out
    assert "xxhash64" in encoded_plan and "xxhash64" not in strings_plan
    assert strings == encoded and encoded
