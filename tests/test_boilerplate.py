"""C4-style boilerplate removal (operators/boilerplate.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators.boilerplate import (
    c4_line_filter,
    remove_repeated_lines,
)


def test_remove_repeated_lines_hand_checked(spark):
    rows = [
        (1, "unique alpha\nSubscribe now\nbody one"),
        (2, "Subscribe now\nbody two"),
        (3, "Subscribe now\nbody three\nSubscribe now"),
        (4, "only unique content here"),
        (5, ""),  # empty doc: one empty line, kept (occurs once)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # "Subscribe now" occurs 4 times (doc 3 counts twice — occurrence
    # semantics, like C4) -> removed everywhere at min_count=3
    out = {r.doc_id: r for r in remove_repeated_lines(df, min_count=3).collect()}
    assert len(out) == 5  # every doc survives, even if fully scrubbed
    assert out[1].text_clean == "unique alpha\nbody one"
    assert (out[1].n_lines, out[1].n_removed) == (3, 1)
    assert out[2].text_clean == "body two"
    assert out[3].text_clean == "body three"
    assert (out[3].n_lines, out[3].n_removed) == (3, 2)
    assert out[4].text_clean == "only unique content here"
    assert (out[5].text_clean, out[5].n_lines, out[5].n_removed) == ("", 1, 0)
    # below threshold nothing is removed
    none_removed = remove_repeated_lines(df, min_count=5).collect()
    assert all(r.n_removed == 0 for r in none_removed)
    with pytest.raises(ValueError, match="min_count"):
        remove_repeated_lines(df, min_count=1)


def test_remove_repeated_lines_partitioning_invariant(spark):
    rows = [(i, f"doc {i}\nshared footer line") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, remove_repeated_lines(df).collect()))
    b = sorted(
        map(tuple, remove_repeated_lines(df.repartition(13)).collect())
    )
    assert a == b
    assert all(r[1] == f"doc {r[0]}" for r in a)  # footer gone everywhere


def test_remove_repeated_lines_null_text_survives(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x\nx")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in remove_repeated_lines(df, min_count=2).collect()}
    assert out[1].text_clean == "" and out[1].n_lines == 1
    # doc 2's internal repetition counts as 2 occurrences -> removed
    assert out[2].text_clean == "" and out[2].n_removed == 2


def test_c4_line_filter_hand_checked(spark):
    rows = [
        (
            1,
            "This is a proper sentence with enough words.\n"
            "too short.\n"
            "this long line has many words but no terminal punct\n"
            "Enable javascript to view this page properly please.\n"
            "We use cookies to improve your experience okay.\n"
            "function f() { return 1; } and some more words.\n"
            'A quoted ending with plenty of words here too"',
        ),
        (2, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in c4_line_filter(df, min_words=5).collect()}
    kept = out[1].text_clean.split("\n")
    assert kept == [
        "This is a proper sentence with enough words.",
        'A quoted ending with plenty of words here too"',
    ]
    assert (out[1].n_lines, out[1].n_kept) == (7, 2)
    assert (out[2].text_clean, out[2].n_lines, out[2].n_kept) == ("", 1, 0)
    with pytest.raises(ValueError, match="min_words"):
        c4_line_filter(df, min_words=0)


def test_c4_line_filter_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "a.\nb.")], "doc_id long, text string")
    plan = (
        c4_line_filter(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan


def test_c4_line_filter_optional_punct_rule(spark):
    df = spark.createDataFrame(
        [(1, "five words but no punctuation here")],
        "doc_id long, text string",
    )
    strict = c4_line_filter(df).collect()[0]
    relaxed = c4_line_filter(df, require_terminal_punct=False).collect()[0]
    assert strict.n_kept == 0
    assert relaxed.n_kept == 1
    assert relaxed.text_clean == "five words but no punctuation here"


def test_remove_repeated_windows(spark):
    from biomedical_knowledge_graph_spark.operators.boilerplate import (
        remove_repeated_windows,
    )

    shared = "one two three four"  # 4-token window shared by docs 1 and 2
    docs = spark.createDataFrame(
        [
            (1, f"alpha {shared} beta"),
            (2, f"gamma delta {shared}"),
            (3, "epsilon zeta eta theta iota"),
            (4, "tiny"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_repeated_windows(docs, w=4, min_count=2).collect()
    }
    # the shared window is excised from both docs, rest preserved in order
    assert got[1].text_clean == "alpha beta"
    assert got[1].n_tokens == 6 and got[1].n_removed_tokens == 4
    assert got[2].text_clean == "gamma delta"
    # doc 3 has no repeated window
    assert got[3].text_clean == "epsilon zeta eta theta iota"
    assert got[3].n_removed_tokens == 0
    # short/empty docs survive untouched
    assert got[4].text_clean == "tiny" and got[4].n_tokens == 1
    assert got[5].text_clean == "" and got[5].n_tokens == 0


def test_remove_repeated_windows_overlap_merge(spark):
    from biomedical_knowledge_graph_spark.operators.boilerplate import (
        remove_repeated_windows,
    )

    # docs share a 5-token run -> two overlapping repeated 4-windows per
    # doc; coverage merges them into ONE 5-token excision
    run = "a b c d e"
    docs = spark.createDataFrame(
        [(1, f"x {run} y"), (2, f"{run} z")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in remove_repeated_windows(docs, w=4, min_count=2).collect()
    }
    assert got[1].text_clean == "x y"
    assert got[1].n_removed_tokens == 5
    assert got[2].text_clean == "z"


def test_remove_repeated_windows_plan_shape_and_shapes_agree(spark, tmp_path):
    """VERDICT r6 item 3: with ``arr`` and ``wins`` checkpointed the outer
    plan reads the corpus through stored RDDs only (the 480 k measurement
    in BENCH.md picked this shape over the rescanning ones). Values are
    pinned by the Python-reference tests."""
    from biomedical_knowledge_graph_spark.operators.boilerplate import (
        remove_repeated_windows,
    )

    path = str(tmp_path / "docs")
    shared = "one two three four"
    spark.createDataFrame(
        [
            (1, f"alpha {shared} beta"),
            (2, f"gamma delta {shared}"),
            (3, "epsilon zeta eta theta iota"),
            (4, ""),
        ],
        "doc_id long, text string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    out = remove_repeated_windows(docs, w=4, min_count=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 0, plan
    assert plan.count("Scan ExistingRDD") >= 2, plan
