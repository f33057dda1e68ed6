"""Deterministic split assignment + stratified sampling operators."""

from __future__ import annotations

import math

import pytest

from biomedical_knowledge_graph_spark.operators.sampling import (
    fraction_to_hex,
    in_sample_col,
    split_col,
    stratified_exact_sample,
)
from pyspark.sql import functions as F


def test_fraction_to_hex_boundaries():
    assert fraction_to_hex(0.0) == "00000000"
    assert fraction_to_hex(1.0) == "ffffffff"  # clamped into the space
    assert fraction_to_hex(0.5) == "80000000"
    with pytest.raises(ValueError):
        fraction_to_hex(1.5)


def test_split_assignment_stable_and_roughly_proportional(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = df.select("doc_id", split_col("doc_id")).collect()
    by = {}
    for r in out:
        by.setdefault(r.split, set()).add(r.doc_id)
    # every row assigned exactly one of the three labels
    assert set(by) == {"train", "val", "test"}
    assert sum(len(v) for v in by.values()) == 2000
    # uniform hash: binomial(2000, .9) stays within 5 sigma of the mean
    assert abs(len(by["train"]) - 1800) < 5 * math.sqrt(2000 * 0.9 * 0.1)
    # stability under corpus growth: the first 2000 ids keep their split
    grown = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    regrown = {
        r.doc_id: r.split
        for r in grown.select("doc_id", split_col("doc_id")).collect()
        if r.doc_id < 2000
    }
    for name, ids in by.items():
        assert all(regrown[i] == name for i in ids)


def test_split_fractions_must_sum_to_one():
    with pytest.raises(ValueError):
        split_col("doc_id", splits=(("a", 0.5), ("b", 0.1)))


def test_stratified_exact_sample_quota_and_determinism(spark):
    # skewed strata: 7 / 40 / 253 rows
    rows = [(i, "a" if i < 7 else "b" if i < 47 else "c") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out = stratified_exact_sample(
        df, id_col="doc_id", stratum_col="stratum", fraction=0.1
    )
    picked = {
        s: {r.doc_id for r in grp}
        for s, grp in _group(out.filter("in_sample").collect())
    }
    # ceil(0.1 * n) exactly, even for tiny strata
    assert {s: len(v) for s, v in picked.items()} == {"a": 1, "b": 4, "c": 26}
    # full frame is returned (flag, not filter)
    assert out.count() == 300
    # bit-identical pick under a different partitioning
    repicked = {
        s: {r.doc_id for r in grp}
        for s, grp in _group(
            stratified_exact_sample(
                df.repartition(13, "doc_id"),
                id_col="doc_id",
                stratum_col="stratum",
                fraction=0.1,
            )
            .filter("in_sample")
            .collect()
        )
    }
    assert repicked == picked


def test_threshold_flag_matches_hex_cut(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    n = df.select(F.sum(in_sample_col("doc_id", 0.25).cast("int"))).first()[0]
    # binomial(1000, .25), 5 sigma
    assert abs(n - 250) < 5 * math.sqrt(1000 * 0.25 * 0.75)


def _group(rows):
    by: dict[str, list] = {}
    for r in rows:
        by.setdefault(r.stratum, []).append(r)
    return by.items()


def test_exact_sample_guards(spark):
    df = spark.createDataFrame(
        [(i, "x", 1) for i in range(9)], "doc_id long, stratum string, _n int"
    )
    # temp-column collision is an error, not silent column loss
    with pytest.raises(ValueError, match="_n"):
        stratified_exact_sample(df, "doc_id", "stratum", 0.1)
    # repr-long fractions (1/3) must not overflow the BIGINT quota:
    # ceil(9/3) = 3 picked
    out = stratified_exact_sample(
        df.drop("_n"), "doc_id", "stratum", 1 / 3
    )
    assert out.filter("in_sample").count() == 3


# ---------------------------------------------------------------------------
# Webtext hygiene (round 5 late): repetition filter + decontamination
# ---------------------------------------------------------------------------


def test_repetition_features_hand_checked(spark):
    from biomedical_knowledge_graph_spark.operators.textstats import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [
            # 6 tokens, 4 distinct -> dup 2/6; 'a b' bigram appears 2/5
            (1, "a b a b c d"),
            # all-same: dup 3/4, top word 4/4... 4 tokens 'x', bigrams
            # 'x x' 3/3
            (2, "x x x x"),
            # single token: no bigrams -> top_bigram_frac 0
            (3, "solo"),
            # empty text: zero tokens, all-zero features, kept
            (4, ""),
            # whitespace runs collapse to empty tokens (dropped)
            (5, "p  q"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repetition_features(df).collect()
    }
    r1 = rows[1]
    assert r1["n_tokens"] == 6
    assert r1["dup_word_frac"] == round(2 / 6, 6)
    assert r1["top_word_frac"] == round(2 / 6, 6)
    assert r1["top_bigram_frac"] == round(2 / 5, 6)
    # rule: dup 0.33 <= 0.5 but top_bigram 0.4 > 0.05 -> dropped
    assert r1["keep"] is False
    r2 = rows[2]
    assert r2["n_tokens"] == 4
    assert r2["dup_word_frac"] == 0.75
    assert r2["top_word_frac"] == 1.0
    assert r2["top_bigram_frac"] == 1.0
    assert r2["keep"] is False
    r3 = rows[3]
    assert (
        r3["n_tokens"],
        r3["dup_word_frac"],
        r3["top_bigram_frac"],
        r3["keep"],
    ) == (1, 0.0, 0.0, True)
    r4 = rows[4]
    assert (r4["n_tokens"], r4["keep"]) == (0, True)
    r5 = rows[5]
    # its single bigram is by definition the top bigram (frac 1.0), so the
    # bigram rule drops it — the filter is meant to compose with a
    # min-length gate, exactly as in Gopher's pipeline
    assert (r5["n_tokens"], r5["dup_word_frac"], r5["keep"]) == (
        2,
        0.0,
        False,
    )


def test_split_contamination_hand_checked(spark):
    """Force known splits by choosing single-split fractions: with
    splits=(('train', 1.0),) every doc is train; instead use an explicit
    two-table check — eval doc sharing an 8-gram with a train doc is
    contaminated, a disjoint one is not."""
    from biomedical_knowledge_graph_spark.operators.sampling import (
        split_col,
        split_contamination,
    )

    # find ids that land in train/test under the default salt so the
    # test is deterministic but not hand-tuned: probe 200 ids once
    probe = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    ).select("doc_id", split_col("doc_id"))
    by_split = {
        s: [r["doc_id"] for r in probe.filter(F.col("split") == s).collect()]
        for s in ("train", "test")
    }
    assert by_split["train"] and by_split["test"], by_split
    train_id = by_split["train"][0]
    test_hit, test_miss = by_split["test"][0], by_split["test"][1]

    shared = "abcdefghijklmnop"  # >= 8 chars shared verbatim
    rows = [
        (train_id, f"TRAIN {shared} TRAIN"),
        (test_hit, f"eval doc with {shared} inside"),
        (test_miss, "zzzz yyyy xxxx wwww vvvv uuuu"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # keep=64 so the winnowed fingerprint covers ALL grams of these tiny
    # docs -> overlap iff verbatim 8-gram sharing
    out = {
        r["doc_id"]: r
        for r in split_contamination(df, keep=64).collect()
    }
    assert set(out) == {test_hit, test_miss}  # train docs not emitted
    assert out[test_hit]["contaminated"] is True
    assert out[test_hit]["n_overlap"] >= len(shared) - 7
    assert out[test_miss]["contaminated"] is False
    assert out[test_miss]["n_overlap"] == 0


def test_pack_sequences_hand_checked_and_partition_invariant(spark):
    from biomedical_knowledge_graph_spark.operators.packing import (
        pack_sequences,
    )

    rows = [
        # one bucket (bucket_col=0): laid out in doc_id order
        (1, "a b c"),        # start 0  -> seq 0, off 0
        (2, "d e f g"),      # start 3  -> seq 0, off 3, 3+4>6 straddles
        (3, ""),             # start 7  -> seq 1, off 1, zero tokens
        (4, "h i j k l m n o"),  # start 7 -> seq 1, off 1, 8 tokens straddles
        (5, "p"),            # start 15 -> seq 2, off 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in pack_sequences(
            df, capacity=6, bucket_col=F.lit(0)
        ).collect()
    }
    want = {
        1: (0, 3, 0, 0, False),
        2: (0, 4, 0, 3, True),
        3: (0, 0, 1, 1, False),
        4: (0, 8, 1, 1, True),
        5: (0, 1, 2, 3, False),
    }
    for doc_id, (b, n, seq, off, strad) in want.items():
        r = out[doc_id]
        assert (
            r["bucket"],
            r["n_tokens"],
            r["seq_in_bucket"],
            r["offset_in_seq"],
            r["straddles"],
        ) == (b, n, seq, off, strad), (doc_id, r)

    # partition invariance: same assignment from a 13-way repartition
    # under the production xxhash64 bucketing
    big = spark.createDataFrame(
        [(i, "tok " * (i % 17)) for i in range(300)],
        "doc_id long, text string",
    )
    a = {tuple(r) for r in pack_sequences(big, capacity=32).collect()}
    b = {
        tuple(r)
        for r in pack_sequences(big.repartition(13), capacity=32).collect()
    }
    assert a == b

    with pytest.raises(ValueError):
        pack_sequences(big, capacity=0)


def test_pack_sequences_input_guards(spark):
    from biomedical_knowledge_graph_spark.operators.packing import (
        pack_sequences,
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 4)], "doc_id long, n_tok int"
    )
    # n_buckets must be positive (a zero modulus would silently put the
    # whole corpus into one null bucket = one task)
    with pytest.raises(ValueError, match="n_buckets"):
        pack_sequences(df, token_count_col="n_tok", n_buckets=0)
    # null token counts fail fast instead of silently shifting offsets
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        pack_sequences(df, token_count_col="n_tok", capacity=8).collect()
    # negative counts too
    neg = spark.createDataFrame([(1, -3)], "doc_id long, n_tok int")
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        pack_sequences(neg, token_count_col="n_tok", capacity=8).collect()
    # valid precomputed counts work and match the text path
    ok = spark.createDataFrame(
        [(1, "a b"), (2, "c d e")], "doc_id long, text string"
    )
    via_text = {
        (r["doc_id"], r["seq_in_bucket"], r["offset_in_seq"])
        for r in pack_sequences(ok, capacity=4, bucket_col=F.lit(0)).collect()
    }
    with_counts = ok.withColumn("n_tok", F.lit(None).cast("int"))
    pre = ok.selectExpr(
        "doc_id", "size(filter(split(text, ' '), t -> length(t) > 0)) as n"
    )
    via_counts = {
        (r["doc_id"], r["seq_in_bucket"], r["offset_in_seq"])
        for r in pack_sequences(
            pre, token_count_col="n", capacity=4, bucket_col=F.lit(0)
        ).collect()
    }
    assert via_text == via_counts


def test_weighted_priority_sample_bias_and_determinism(spark):
    from biomedical_knowledge_graph_spark.operators.sampling import (
        weighted_priority_sample,
    )

    # 1500 light docs (weight 1) vs 500 heavy (weight 10): the heavy
    # quarter must dominate the top-200 pick (expected share ~77%;
    # uniform would give 25%)
    rows = [(i, 10 if i % 4 == 0 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, wt int")
    out = weighted_priority_sample(df, "doc_id", "wt", k=200)
    assert out.count() == 2000  # flag, not filter
    picked = [r.doc_id for r in out.filter("picked").collect()]
    assert len(picked) == 200
    heavy = sum(1 for i in picked if i % 4 == 0)
    assert heavy > 100, heavy  # way above the uniform 50
    # bit-identical under a different partitioning
    repicked = {
        r.doc_id
        for r in weighted_priority_sample(
            df.repartition(17), "doc_id", "wt", k=200
        )
        .filter("picked")
        .collect()
    }
    assert repicked == set(picked)
    # zero weights are clamped to 1, not a crash or a div-0
    z = spark.createDataFrame([(1, 0), (2, 5)], "doc_id long, wt int")
    assert weighted_priority_sample(z, "doc_id", "wt", k=1).count() == 2
    with pytest.raises(ValueError, match="k must be positive"):
        weighted_priority_sample(df, "doc_id", "wt", k=0)
    clash = df.withColumn("_prio", F.lit(1))
    with pytest.raises(ValueError, match="_prio"):
        weighted_priority_sample(clash, "doc_id", "wt", k=5)
    # flag_name is part of the reserved-column collision check too
    # (ADVICE r5): an existing 'picked' column must raise, not be
    # silently overwritten
    flag_clash = df.withColumn("picked", F.lit(True))
    with pytest.raises(ValueError, match="picked"):
        weighted_priority_sample(flag_clash, "doc_id", "wt", k=5)


def test_weighted_priority_sample_fail_fast_on_bad_inputs(spark):
    """ADVICE r5: NULL / negative weights and NULL / non-castable ids
    silently diverge across engines (Spark greatest() skips NULLs,
    DuckDB propagates; NULL _prio sorts first vs last) — the operator
    must raise at execution instead of picking different rows."""
    from py4j.protocol import Py4JJavaError
    from biomedical_knowledge_graph_spark.operators.sampling import (
        weighted_priority_sample,
    )

    def run(rows, schema):
        df = spark.createDataFrame(rows, schema)
        weighted_priority_sample(df, "doc_id", "wt", k=1).collect()

    for rows, schema in [
        ([(1, None), (2, 5)], "doc_id long, wt int"),      # NULL weight
        ([(1, -3), (2, 5)], "doc_id long, wt int"),        # negative weight
        ([(None, 1), (2, 5)], "doc_id long, wt int"),      # NULL id
        ([("x", 1), ("2", 5)], "doc_id string, wt int"),   # non-castable id
    ]:
        with pytest.raises(Exception) as exc:
            run(rows, schema)
        assert "weighted_priority_sample" in str(exc.value)
    # castable string ids are fine
    ok = spark.createDataFrame([("1", 1), ("2", 5)], "doc_id string, wt int")
    assert weighted_priority_sample(ok, "doc_id", "wt", k=1).count() == 2


def test_weighted_priority_sample_matches_window_reference(spark):
    """VERDICT r5 item 6: the bounded top-k plan (per-partition top-k
    arrays → per-stratum threshold → broadcast flag) must pick the
    bit-identical set as the full window-sort reference, and its plan
    must contain no Window node."""
    from pyspark.sql import Window
    from biomedical_knowledge_graph_spark.operators.sampling import (
        _KNUTH,
        _M31_SAMPLING,
        weighted_priority_sample,
    )

    rows = [(i, "s%d" % (i % 5), (i * 37) % 11) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, wt int")

    def window_reference(df, k):
        h = ((F.col("doc_id").cast("long") % _M31_SAMPLING) * _KNUTH) \
            % _M31_SAMPLING
        prio = F.expr(
            "(_h * 1000000L) div greatest(cast(wt as bigint), 1L)"
        )
        w = Window.partitionBy("lang").orderBy(F.col("_prio"), F.col("doc_id"))
        return (
            df.withColumn("_h", h)
            .withColumn("_prio", prio)
            .withColumn("picked", F.row_number().over(w) <= k)
            .drop("_h", "_prio")
        )

    for k in (1, 7, 400, 10_000):  # k < stratum, k ~ stratum, k > stratum
        got = weighted_priority_sample(
            df.repartition(13), "doc_id", "wt", k=k, stratum_col="lang"
        )
        want = window_reference(df, k)
        got_picked = {r.doc_id for r in got.filter("picked").collect()}
        want_picked = {r.doc_id for r in want.filter("picked").collect()}
        assert got_picked == want_picked, k
        assert got.count() == 3000  # flag, not filter
    plan = weighted_priority_sample(
        df, "doc_id", "wt", k=5, stratum_col="lang"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_weighted_sample_empty_input(spark):
    """Zero-row input returns zero rows (review r6: the unstratified
    global aggregate emits one row with an empty top-k array, and an
    unguarded element_at(_, 0) crashed instead)."""
    from biomedical_knowledge_graph_spark.operators.sampling import (
        weighted_priority_sample,
    )

    empty = spark.createDataFrame([], "doc_id long, w long")
    assert weighted_priority_sample(empty, "doc_id", "w", 3).count() == 0
    assert (
        weighted_priority_sample(
            empty.withColumn("s", F.lit("x")), "doc_id", "w", 3,
            stratum_col="s",
        ).count()
        == 0
    )


def test_stratified_topk_matches_window_reference(spark):
    """Per-domain cap (round 7): the explicit-score tree-merge top-k
    must pick the bit-identical set as row_number() OVER (PARTITION BY
    stratum ORDER BY score DESC|ASC, id) <= k — including NULL strata,
    duplicated scores (tie-break on id) and strata smaller than k —
    with no Window node in the plan."""
    from pyspark.sql import Window
    from biomedical_knowledge_graph_spark.operators.sampling import (
        stratified_topk,
    )

    rows = [
        (i, None if i % 17 == 0 else "d%d" % (i % 7), (i * 13) % 50)
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, score int")

    for desc in (True, False):
        for k in (1, 5, 300, 5000):
            got = stratified_topk(
                df.repartition(11), "doc_id", "score", k,
                stratum_col="dom", descending=desc,
            )
            order = F.col("score").desc() if desc else F.col("score").asc()
            w = Window.partitionBy("dom").orderBy(order, F.col("doc_id"))
            want = df.withColumn("kept", F.row_number().over(w) <= k)
            got_kept = {r.doc_id for r in got.filter("kept").collect()}
            want_kept = {r.doc_id for r in want.filter("kept").collect()}
            assert got_kept == want_kept, (desc, k)
            assert got.count() == 2000  # flag, not filter

    plan = stratified_topk(
        df, "doc_id", "score", 5, stratum_col="dom"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan

    with pytest.raises(Exception, match="non-null integer-castable"):
        stratified_topk(
            spark.createDataFrame(
                [(1, "a", None)], "doc_id long, dom string, score int"
            ),
            "doc_id", "score", 2, stratum_col="dom",
        ).collect()


def test_budget_select_matches_global_window_reference(spark):
    """Token-budget corpus assembly (round 7): the range-partitioned
    cumsum must flag the identical set as the single-reducer
    SUM() OVER (ORDER BY score DESC, id) <= budget reference, on any
    input partitioning."""
    from pyspark.sql import Window
    from biomedical_knowledge_graph_spark.operators.sampling import (
        budget_select,
    )

    rows = [(i, (i * 31) % 100, 1 + (i * 7) % 40) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, score int, toks int")
    w = (
        Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = df.agg(F.sum("toks")).collect()[0][0]
    for budget in (0, 500, total // 3, total, total * 2):
        want = {
            r.doc_id
            for r in df.withColumn("selected", F.sum("toks").over(w) <= budget)
            .filter("selected")
            .collect()
        }
        for parts in (1, 7):
            got_df = budget_select(
                df.repartition(parts), "doc_id", "score", "toks", budget
            )
            got = {r.doc_id for r in got_df.filter("selected").collect()}
            assert got == want, (budget, parts)
            assert got_df.count() == 3000  # flag, not filter
    with pytest.raises(ValueError, match="non-negative"):
        budget_select(df, "doc_id", "score", "toks", -1)
    with pytest.raises(Exception, match="non-null non-negative"):
        budget_select(
            spark.createDataFrame(
                [(1, 2, -5)], "doc_id long, score int, toks int"
            ),
            "doc_id", "score", "toks", 10,
        ).collect()
