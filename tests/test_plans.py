"""Physical-plan audits: the optimizations SURVEY.md §4 promises must be
visible in `.explain()` output — broadcast joins where dims are small,
predicate pushdown into the parquet scan, no Python in JVM-only paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark import fixtures
from biomedical_knowledge_graph_spark.operators.linking import (
    link_mentions,
    resolve_obsolete,
)
from biomedical_knowledge_graph_spark.operators.mentions import (
    scan_mentions_token_join,
)


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dictionary_link_is_broadcast(spark):
    docs = spark.createDataFrame(
        [(1, "alpha kinase here")], "doc_id long, text string"
    )
    dim = resolve_obsolete(fixtures.entity_dict_df(spark))
    mentions = scan_mentions_token_join(docs, dim)
    linked = link_mentions(mentions, dim, id_col="doc_id")
    plan = plan_of(linked)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # a dim join must never shuffle


def test_token_join_scan_has_no_python(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha kinase binds beta channel")], "doc_id long, text string"
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    dim = resolve_obsolete(fixtures.entity_dict_df(spark))
    plan = plan_of(scan_mentions_token_join(docs, dim))
    # whole-stage codegen end to end: no Arrow/Python eval nodes
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan  # dictionary never shuffles


def test_filter_pushdown_to_parquet(spark, tmp_path):
    path = str(tmp_path / "li")
    spark.createDataFrame(
        [(1, "A", 5.0), (2, "B", 6.0)], "k long, flag string, v double"
    ).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("flag") == "A").select("k")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(flag), EqualTo(flag,A)]" in plan
    # column pruning: the scan must not read v
    assert "ReadSchema" in plan and "v:double" not in plan


def test_html_pruned_before_downstream(spark):
    from biomedical_knowledge_graph_spark.operators.extraction import (
        extract_pages,
    )

    pages = fixtures.pages_df(spark, n_pages=5, seed=1)
    docs = extract_pages(pages)
    assert "html" not in docs.columns


def test_evidence_matrix_single_shuffle_for_all_types(spark):
    """N evidence types must fold into ONE aggregation exchange (tagged
    union + conditional agg), not N semi-join shuffles."""
    from biomedical_knowledge_graph_spark.plans.metrics import (
        evidence_flag_matrix,
    )

    entities = spark.createDataFrame([(i,) for i in range(10)], "k long")
    edges = {
        f"t{j}": spark.createDataFrame([(i,) for i in range(j, 10)], "k long")
        for j in range(6)
    }
    plan = plan_of(evidence_flag_matrix(entities, edges, "k"))
    # the tagged union folds all types into one aggregate: exactly ONE join
    # (entities ⟕ flags; AQE may upgrade it to broadcast at runtime) — a
    # semi-join-per-type implementation would show 6 joins here
    n_joins = sum(plan.count(j) for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, f"expected 1 join node, saw {n_joins}:\n{plan}"


def test_lsh_near_pairs_single_corpus_scan(spark, tmp_path):
    """All LSH tables' buckets are computed in ONE projection over one scan
    (struct array + explode), not one scan per table."""
    from biomedical_knowledge_graph_spark.operators.similarity import (
        lsh_near_pairs,
    )

    path = str(tmp_path / "emb")
    spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<float>",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plan = plan_of(lsh_near_pairs(df, dim=4, n_planes=2, n_tables=4))
    # the bucketed frame is scanned twice (self-join) + verify re-joins the
    # vector table twice = bounded small number of scans, NOT 2*n_tables
    assert plan.count("Scan parquet") <= 4, plan


def test_pathway_reader_no_python(spark, tmp_path):
    """S10 reader is pure JVM (csv scan + projections, no UDF)."""
    from biomedical_knowledge_graph_spark.sources.readers import (
        read_pathway_csv,
    )

    p = tmp_path / "nest.csv"
    p.write_text('NEST ID,name,All_Genes\nNEST:1,x,"G1, G2"\n')
    modules, membership = read_pathway_csv(spark, str(p))
    for df in (modules, membership):
        plan = plan_of(df)
        assert "Python" not in plan and "MapInPandas" not in plan


def test_evidence_flag_matrix_input_guards(spark):
    import pytest

    from biomedical_knowledge_graph_spark.plans.metrics import (
        evidence_flag_matrix,
    )

    ents = spark.createDataFrame([("g1",)], "gene string")
    with pytest.raises(ValueError):
        evidence_flag_matrix(ents, {}, key="gene")
    with pytest.raises(ValueError):
        evidence_flag_matrix(ents, {"bad name!": ents}, key="gene")


def test_minhash_lsh_bucket_hash_has_no_json(spark):
    """The LSH bucket key must hash the band slice directly — a to_json
    round-trip builds a throwaway string per (doc, band) (measured 1.66×
    on the full sf0.1 query when it crept in)."""
    from biomedical_knowledge_graph_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures_jvm,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij")], "doc_id long, text string"
    )
    cands = minhash_lsh_candidates(
        minhash_signatures_jvm(docs, num_hashes=8),
        bands=2,
        rows_per_band=4,
        size_ratio_at_least=0.8,
    )
    plan = plan_of(cands)
    assert "to_json" not in plan
    assert "xxhash64" in plan.lower()


def test_split_contamination_single_text_scan(spark, tmp_path):
    """Decontamination must read the corpus text ONCE (the posting-window
    shape): exactly one scan carries the text column; the only other scan
    is the doc_id-pruned eval-roster projection. The any-train flag comes
    from ONE window over the gram partition — no per-gram posting array
    (collect_list would build an eval-sized in-memory buffer for a
    boilerplate gram; WindowExec spills), and no broadcast of gram sets
    (the first-cut broadcast shape scanned text twice, assumed eval grams
    fit in driver memory, and benched 24x slower)."""
    from biomedical_knowledge_graph_spark.operators.sampling import (
        split_contamination,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"document number {i} with some text body") for i in range(40)],
        "doc_id long, text string",
    ).write.parquet(path)
    out = split_contamination(spark.read.parquet(path))
    plan = plan_of(out)
    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    with_text = [ln for ln in scans if "text" in ln.split("ReadSchema")[-1]]
    assert len(scans) == 2, plan
    assert len(with_text) == 1, plan
    assert "collect_list" not in plan, plan
    assert plan.count("Window") == 1, plan
    # the gram path must not broadcast: the only broadcast allowed is the
    # final eval-roster join (its build side is the per-doc aggregate)
    gram_side = plan.split("Window")[-1]
    assert "BroadcastExchange" not in gram_side, plan


def test_repetition_features_gram_work_is_jvm_only(spark, tmp_path):
    """The repetition filter is two hash aggregates over one JVM gram
    explode: no Python eval nodes, no window exchange, and the
    doc-roster branch reads only the id column."""
    from biomedical_knowledge_graph_spark.operators.textstats import (
        repetition_features,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "a b a c") for i in range(10)], "doc_id long, text string"
    ).write.parquet(path)
    out = repetition_features(spark.read.parquet(path))
    plan = plan_of(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Window" not in plan
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    id_only = [
        ln
        for ln in scans
        if "text" not in ln.split("ReadSchema")[-1]
    ]
    assert len(scans) == 2 and len(id_only) == 1, plan
