"""Regression tests for round-2 bug fixes (ADVICE.md r01):

- short/empty docs through both mention strategies (sequence(1,0)==[1,0]);
- shingle_sets / fingerprint emit nothing for texts shorter than n;
- link_mentions case-folds dictionary aliases to match the scanners;
- read_expression_matrix_long survives non-numeric cells under ANSI mode.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators import dedup, textstats
from biomedical_knowledge_graph_spark.operators.linking import link_mentions
from biomedical_knowledge_graph_spark.operators.mentions import (
    scan_mentions,
    scan_mentions_token_join,
)
from biomedical_knowledge_graph_spark.sources import readers


def test_token_join_short_docs_no_crash(spark):
    """A doc with fewer tokens than the n-gram width must yield no n-grams,
    not throw INVALID_PARAMETER_VALUE.START (Spark's sequence(1, 0) is the
    descending [1, 0])."""
    docs = spark.createDataFrame(
        [(1, "brca1"), (2, ""), (3, "x"), (4, "alpha kinase binds")],
        "doc_id long, text string",
    )
    dim = spark.createDataFrame([("alpha kinase",), ("brca1",)], "alias string")
    rows = {(r.doc_id, r.surface) for r in scan_mentions_token_join(docs, dim).collect()}
    assert rows == {(1, "brca1"), (4, "alpha kinase")}


def test_both_strategies_agree_on_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "gamma factor seven"), (4, "factor")],
        "doc_id long, text string",
    )
    vocab = ["gamma factor seven", "a", "factor"]
    dim = spark.createDataFrame([(v,) for v in vocab], "alias string")
    ac = {(r.doc_id, r.surface) for r in scan_mentions(docs, vocab).collect()}
    tj = {(r.doc_id, r.surface) for r in scan_mentions_token_join(docs, dim).collect()}
    assert tj == ac


def test_shingles_short_text_empty(spark):
    """Texts shorter than n emit NO shingles (no phantom substring-at-0)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "abcde"), (4, "abcdef")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.shingle)
        for r in dedup.shingle_sets(docs, "doc_id", "text", n=5).collect()
    }
    assert got == {(3, "abcde"), (4, "abcde"), (4, "bcdef")}


def test_short_identical_docs_not_near_dups(spark):
    """Pairs of empty/short identical docs must NOT become Jaccard-1.0 pairs
    (they have empty shingle sets, and 0/0 is undefined, not 1)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "abc"), (4, "abc"), (5, "abcdefghij"), (6, "abcdefghij")],
        "doc_id long, text string",
    )
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    lsh = dedup.minhash_dedup_pairs(docs, threshold=0.8).collect()
    assert {(r.id_a, r.id_b) for r in exact} == {(5, 6)}
    assert {(r.id_a, r.id_b) for r in lsh} == {(5, 6)}


def test_fingerprint_short_text_empty(spark):
    docs = spark.createDataFrame(
        [(1, "short"), (2, "exactly8!"), (3, "")], "doc_id long, text string"
    )
    rows = {r.doc_id: r.fingerprint for r in textstats.fingerprint(docs).collect()}
    assert rows[1] == []
    assert rows[3] == []
    assert len(rows[2]) == 2  # 9 chars -> two 8-grams


def test_link_mentions_case_folds_aliases(spark):
    """Dictionary alias 'BRCA1' must link the lowercase mention the scanners
    emit; case-duplicate dict rows must not fan mentions out."""
    mentions = spark.createDataFrame(
        [(1, "brca1"), (1, "tp53"), (2, "unknown")],
        "doc_id long, surface string",
    )
    dim = spark.createDataFrame(
        [
            ("BRCA1", "G:1", "gene", "ns", 1.0),
            ("brca1", "G:1", "gene", "ns", 0.5),
            ("TP53", "G:2", "gene", "ns", 1.0),
        ],
        "alias string, canonical_id string, entity_type string, "
        "namespace string, prior double",
    )
    got = link_mentions(mentions, dim, id_col="doc_id").collect()
    by_surface = {(r.doc_id, r.surface): r for r in got}
    assert len(got) == 3  # no fan-out from the case-duplicate BRCA1 rows
    assert by_surface[(1, "brca1")].canonical_id == "G:1"
    assert by_surface[(1, "brca1")].score == 1.0  # max prior wins
    assert by_surface[(1, "tp53")].canonical_id == "G:2"
    assert by_surface[(2, "unknown")].canonical_id is None


def test_link_mentions_case_dup_with_divergent_metadata(spark):
    """Case variants that disagree in a metadata column must STILL collapse
    to one dictionary row (review regression: grouping by all columns kept
    both and fanned every mention out into duplicate links)."""
    mentions = spark.createDataFrame(
        [(1, "brca1")], "doc_id long, surface string"
    )
    dim = spark.createDataFrame(
        [
            ("BRCA1", "G:1", "gene", "ns1", 1.0),
            ("brca1", "G:1", "gene", "ns2", 0.5),
        ],
        "alias string, canonical_id string, entity_type string, "
        "namespace string, prior double",
    )
    got = link_mentions(mentions, dim, id_col="doc_id").collect()
    assert len(got) == 1
    assert got[0].canonical_id == "G:1" and got[0].score == 1.0
    assert got[0].namespace == "ns1"  # deterministic min


def test_expression_matrix_na_cells(spark, tmp_path):
    """'NA'/blank cells are dropped (P4), not a CAST_INVALID_INPUT crash
    under Spark 4 ANSI mode."""
    p = tmp_path / "expr.tsv"
    p.write_text("gene\tc1\tc2\tc3\nG1\t1.5\tNA\t0\nG2\t\t2.5\tbogus\n")
    long_df = readers.read_expression_matrix_long(spark, str(p), key_col="gene")
    rows = {(r.entity, r.condition, r.value) for r in long_df.collect()}
    assert rows == {("G1", "c1", 1.5), ("G2", "c2", 2.5)}


def test_asof_bucketed_hot_key(spark):
    """One key holding ~all rows: the range-bucketed as-of join must agree
    with the plain per-key variant AND split the hot key across multiple
    (key, bucket) groups so no single task holds the whole key."""
    import datetime as dt

    from biomedical_knowledge_graph_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
    )

    t0 = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, 99 if i % 50 else i, t0 + dt.timedelta(minutes=3 * i))
        for i in range(400)
    ]
    right_rows = [
        (99 if i % 40 else i, t0 + dt.timedelta(minutes=7 * i), float(i))
        for i in range(200)
    ]
    left = spark.createDataFrame(left_rows, "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")
    plain = {
        (r.event_id, r.ts_right, r.v_right)
        for r in asof_join(left, right, key="k", ts="ts", right_value_cols=["v"]).collect()
    }
    bucketed_df = asof_join_bucketed(
        left, right, key="k", ts="ts", right_value_cols=["v"], n_buckets=8,
        hot_threshold=100,  # key 99 holds ~390+160 rows -> hot; others cold
    )
    bucketed = {
        (r.event_id, r.ts_right, r.v_right) for r in bucketed_df.collect()
    }
    assert bucketed == plain
    assert len(bucketed) == 400
    # the hot key (99) must occupy several buckets (bounded group size)
    from pyspark.sql import functions as F2

    micros = "unix_micros(cast(`ts` AS timestamp))"
    both_ts = left.select(F2.expr(micros).alias("_t")).unionByName(
        right.select(F2.expr(micros).alias("_t"))
    )
    cuts = sorted(set(both_ts.approxQuantile("_t", [i / 8 for i in range(1, 8)], 0.001)))
    arr = ", ".join(f"{int(c)}L" for c in cuts)
    n_groups = (
        left.filter(F2.col("k") == 99)
        .select(F2.expr(f"size(filter(array({arr}), b -> b <= {micros}))").alias("b"))
        .distinct()
        .count()
    )
    assert n_groups >= 4


def test_minhash_repeat_calls_release_cache(spark):
    """minhash_dedup_pairs must not leak persisted RDDs across calls."""
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog") for i in range(30)],
        "doc_id long, text string",
    )
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    for _ in range(3):
        dedup.minhash_dedup_pairs(docs, threshold=0.8).count()
    after = len(spark.sparkContext._jsc.getPersistentRDDs())
    # localCheckpoint keeps the (small) result partitions; the shingle scan
    # itself must be released — allow the 3 checkpointed results, nothing more
    assert after - before <= 3
