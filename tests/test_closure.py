"""Transitive closure (ontology ancestor sets, round 7)."""

from __future__ import annotations

import pytest

from biomedical_knowledge_graph_spark.operators.closure import (
    transitive_closure,
)


def _pairs(df):
    return {(r.child, r.parent) for r in df.collect()}


def test_closure_diamond_dag(spark):
    # d -> b -> a, d -> c -> a  (diamond): d's ancestors {a, b, c}, once
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "a"), ("d", "b"), ("d", "c")],
        "child string, parent string",
    )
    assert _pairs(transitive_closure(edges)) == {
        ("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("d", "a"),
    }


def test_closure_deep_chain_needs_doubling(spark):
    # 0 <- 1 <- ... <- 40: closure = all i > j pairs; depth 40 forces
    # ~6 doubling rounds (a single-step expansion would need 40)
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 41)], "child long, parent long"
    )
    got = _pairs(transitive_closure(edges))
    want = {(i, j) for i in range(41) for j in range(i)}
    assert got == want


def test_closure_drops_self_loops_and_nulls(spark):
    edges = spark.createDataFrame(
        [("a", "a"), ("b", "a"), (None, "a"), ("c", None), ("c", "b")],
        "child string, parent string",
    )
    assert _pairs(transitive_closure(edges)) == {
        ("b", "a"), ("c", "b"), ("c", "a"),
    }


def test_closure_cycle_yields_proper_ancestors(spark):
    # a -> b -> c -> a: every node reaches the other two; self-pairs
    # excluded, and the fixed point terminates despite the cycle
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "child string, parent string"
    )
    got = _pairs(transitive_closure(edges))
    want = {
        (x, y) for x in "abc" for y in "abc" if x != y
    }
    assert got == want


def test_closure_empty_input(spark):
    edges = spark.createDataFrame([], "child string, parent string")
    assert transitive_closure(edges).count() == 0


def test_closure_max_rounds_guard(spark):
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 41)], "child long, parent long"
    )
    with pytest.raises(ValueError, match="did not converge"):
        transitive_closure(edges, max_rounds=2)  # diameter 40 > 2^2

def test_closure_fixed_rounds_matches_probe_mode(spark):
    # round-8 optimization: max_depth runs ceil(log2(depth)) fixed
    # doubling rounds with no convergence probes — output must be the
    # IDENTICAL set probe mode converges to
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(1, 23)], "child long, parent long"
    )
    probe = _pairs(transitive_closure(edges))
    fixed = _pairs(transitive_closure(edges, max_depth=22))
    assert fixed == probe
    # an over-estimated depth only adds no-op rounds, never changes output
    assert _pairs(transitive_closure(edges, max_depth=64)) == probe


def test_closure_fixed_rounds_shallow_and_invalid(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b")], "child string, parent string"
    )
    # depth 1 = zero doubling rounds = the direct edge set only
    assert _pairs(transitive_closure(edges, max_depth=1)) == {
        ("b", "a"), ("c", "b")
    }
    # exact depth covers the chain
    assert _pairs(transitive_closure(edges, max_depth=2)) == {
        ("b", "a"), ("c", "b"), ("c", "a")
    }
    with pytest.raises(ValueError, match="max_depth"):
        transitive_closure(edges, max_depth=0)


def test_ancestor_closure_query_gapped_keys(spark, tmp_path):
    """kg_ancestor_closure's fixed-rounds depth bound comes from the
    largest part key, so a gapped key set whose one chain is deeper than
    log2(key count) still closes fully: the registry query equals probe
    mode on the same edges."""
    from pyspark.sql import functions as F

    from biomedical_knowledge_graph_spark.queries import kg_ancestor_closure

    # the heap chain 1023 -> 511 -> ... -> 1 -> 0: 10 keys, depth 10,
    # where a key count (10) would bound the depth at floor(log2(11)) = 3
    keys = [2**i - 1 for i in range(1, 11)] + [4, 5]
    part = spark.createDataFrame([(k,) for k in keys], "p_partkey long")
    part.write.parquet(str(tmp_path / "part.parquet"))
    got = {
        (r.node, r.ancestor)
        for r in kg_ancestor_closure(spark, str(tmp_path)).collect()
    }
    edges = part.select(
        F.col("p_partkey").alias("child"),
        F.expr("(p_partkey - 1) div 2").alias("parent"),
    )
    assert got == _pairs(transitive_closure(edges))
    assert (1023, 0) in got
