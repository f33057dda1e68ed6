"""Dedup ladder: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumped over the lazy dog"),  # near dup
    (4, "completely different content about spark engines"),
    (5, "spark engines and completely different content about"),  # shuffle of 4
    (6, "zzz"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text: str, n: int = 5) -> set[str]:
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 0))}


def _py_jaccard(a: str, b: str, n: int = 5) -> float:
    sa, sb = _py_shingles(a, n), _py_shingles(b, n)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


def test_exact_duplicate_groups(spark):
    groups = {
        r.keep_id: (r.n_docs, list(r.doc_ids))
        for r in dedup.exact_duplicate_groups(_docs(spark)).collect()
    }
    assert groups[1] == (2, [1, 2])
    assert sum(n for n, _ in groups.values()) == len(DOCS)


def test_ngram_jaccard_matches_bruteforce(spark):
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            _docs(spark), threshold=0.5
        ).collect()
    }
    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        j = round(_py_jaccard(ta, tb), 6)
        if j >= 0.5:
            want[(ia, ib)] = j
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9


def test_minhash_equals_exact_at_high_threshold(spark):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs(_docs(spark), threshold=0.8).collect()
    }
    assert lsh == exact
    assert (1, 2) in lsh  # the exact dup pair survives


def test_minhash_signature_properties(spark):
    sigs = {
        r.doc_id: list(r.signature)
        for r in dedup.minhash_signatures_jvm(_docs(spark)).collect()
    }
    assert sigs[1] == sigs[2]  # identical docs → identical signatures
    sim_34 = sum(a == b for a, b in zip(sigs[4], sigs[5])) / len(sigs[4])
    # docs 4/5 share most shingles → signature agreement ≈ true Jaccard
    true_j = _py_jaccard(DOCS[3][1], DOCS[4][1])
    assert abs(sim_34 - true_j) < 0.2


def test_simhash_near_pairs_exact_recall(spark):
    # brute-force hamming from the packed fingerprints
    sig = {
        r.doc_id: r.simhash for r in dedup.simhash64(_docs(spark)).collect()
    }
    want = set()
    for a, b in itertools.combinations(sorted(sig), 2):
        ham = bin((sig[a] ^ sig[b]) & ((1 << 64) - 1)).count("1")
        if ham <= 10:
            want.add((a, b, ham))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_near_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert got == want
    assert any(p[:2] == (1, 2) and p[2] == 0 for p in got)


def test_simhash_band_guard():
    import pytest

    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(None, max_hamming=8, bands=8)


def test_banded_memberships_geometry_guard(spark):
    """ADVICE r6 item 1: a signature whose length != bands*rows_per_band
    must raise, not silently hash truncated band slices."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from biomedical_knowledge_graph_spark.operators import dedup as d

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps")], "doc_id long, text string"
    )
    sigs = d.minhash_signatures_jvm(docs, num_hashes=128)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)) as ei:
        d.banded_memberships(sigs, bands=25, rows_per_band=5).collect()
    assert "banded_memberships" in str(ei.value)
    # matched geometry passes (128 = 32x4)
    rows = d.banded_memberships(sigs, bands=32, rows_per_band=4).collect()
    assert len(rows) == 32


def test_minhash_incremental_matches_batch_restriction(spark):
    """Incremental dedup (batch vs prebuilt index) must equal the batch
    operator's output restricted to pairs touching the new batch, and
    a grown index (union) must reproduce full-corpus behavior."""
    docs = _docs(spark)
    baseline = docs.filter("doc_id <= 3")
    batch = docs.filter("doc_id > 3")

    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    new_ids = {4, 5, 6}
    expected = {
        p for p in full if p[0] in new_ids or p[1] in new_ids
    }

    idx = dedup.minhash_index(baseline)
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_dedup_pairs_incremental(
            batch, idx, threshold=0.5
        ).collect()
    }
    assert got == expected
    # baseline-only pairs (1,2 exact dups; 1-3 near) are excluded
    assert all(p[0] in new_ids or p[1] in new_ids for p in got)

    # grow the index with the batch, dedup a further batch of exact dups
    # of doc 4 — both the old-corpus copy and the first-batch copy are hit
    batch_idx = dedup.minhash_index(batch)
    idx2 = idx.union(batch_idx)
    batch2 = spark.createDataFrame(
        [(7, DOCS[3][1])], "doc_id long, text string"
    )
    got2 = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_dedup_pairs_incremental(
            batch2, idx2, threshold=0.5
        ).collect()
    }
    assert (4, 7) in got2
    idx.unpersist()
    batch_idx.unpersist()


def test_minhash_inline_size_path_matches_classic(spark):
    # round-8 optimization: sizes computed inside the signature aggregate
    # and threaded through the banded cells (ratio prefilter before the
    # candidate distinct, no sizes joins in verify) must yield the exact
    # pairs of the brute-force Jaccard join (no LSH miss on these docs)
    docs = spark.createDataFrame(
        [(i, t) for i, (_, t) in enumerate(DOCS)], "doc_id long, text string"
    )
    sh = dedup.shingle_sets(docs, "doc_id", "text").persist()
    try:
        sigs = dedup.minhash_signatures_jvm(docs, shingles=sh)
        # sz column equals the per-doc distinct shingle count
        got_sz = {r.doc_id: r.sz for r in sigs.collect()}
        want_sz = {
            r.doc_id: r.c
            for r in sh.groupBy("doc_id").agg(F.count("*").alias("c")).collect()
        }
        assert got_sz == want_sz
        inline = dedup.minhash_lsh_candidates(sigs, size_ratio_at_least=0.5)
        assert set(inline.columns) == {"id_a", "id_b", "sz_a", "sz_b"}
        v_inline = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.verify_pairs(inline, sh, threshold=0.5).collect()
        }
        exact = {
            (r.id_a, r.id_b, r.jaccard)
            for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
        }
        assert v_inline == exact and exact
    finally:
        sh.unpersist()
