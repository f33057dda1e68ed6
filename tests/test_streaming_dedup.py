"""Streaming incremental MinHash dedup: stream ≡ batch, replay isolation."""

from __future__ import annotations

from biomedical_knowledge_graph_spark.operators import dedup
from biomedical_knowledge_graph_spark.streaming.dedup import (
    read_index_before,
    stream_dedup_minhash,
)

EPOCH0 = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    (3, "completely different content about spark engines"),
]
EPOCH1 = [
    (4, "the quick brown fox jumped over the lazy dog"),  # near dup of 1/2
    (5, "completely different content about spark engines"),  # dup of 3
    (6, "unrelated third topic entirely on its own"),
]
SCHEMA = "doc_id long, text string"


def test_stream_dedup_minhash_matches_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    df0 = spark.createDataFrame(EPOCH0, SCHEMA)
    df1 = spark.createDataFrame(EPOCH1, SCHEMA)
    df0.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(df0.schema).parquet(src)
    q = stream_dedup_minhash(
        stream, index_dir, pairs_dir, ckpt, threshold=0.5
    )
    try:
        q.processAllAvailable()  # epoch 0: first batch, empty prior index
        df1.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # epoch 1: deduped against epoch 0's index
    finally:
        q.stop()

    streamed = {
        (r.id_a, r.id_b, r.jaccard)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    batch = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.minhash_dedup_pairs(
            df0.unionByName(df1), threshold=0.5
        ).collect()
    }
    # epoch0-internal pairs + epoch1-touching pairs = ALL pairs, because
    # every pair is internal to an epoch or crosses exactly one boundary
    assert streamed == batch
    # the cross-epoch near-dup and exact-dup pairs were found
    assert {(p[0], p[1]) for p in streamed} >= {(1, 2), (3, 5)}

    # replay isolation: the index view AS OF epoch 1 contains only
    # epoch 0's documents, even though epoch 1's rows are on disk now
    idx01 = read_index_before(spark, index_dir, 1)
    assert {
        r.doc_id for r in idx01.sizes.collect()
    } == {1, 2, 3}
    idx2 = read_index_before(spark, index_dir, 2)
    assert {r.doc_id for r in idx2.sizes.collect()} == {1, 2, 3, 4, 5, 6}
    assert read_index_before(spark, index_dir, 0) is None


def test_stream_dedup_geometry_manifest(spark, tmp_path):
    """ADVICE r6 item 2: restarting the stream with different MinHash
    geometry (or a different signature impl) must fail loudly instead of
    probing the stored index with incompatible buckets and silently
    missing cross-epoch duplicates. Same-geometry restarts stay fine."""
    import pyspark.errors
    import pytest

    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "index")
    pairs_dir = str(tmp_path / "pairs")

    df0 = spark.createDataFrame(EPOCH0, SCHEMA)
    df0.coalesce(1).write.mode("append").parquet(src)

    def run(ckpt_name, **kwargs):
        stream = spark.readStream.schema(df0.schema).parquet(src)
        q = stream_dedup_minhash(
            stream, index_dir, pairs_dir, str(tmp_path / ckpt_name),
            threshold=0.5, **kwargs,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run("ckpt0", bands=25, rows_per_band=5)
    # manifest written with the resolved geometry
    manifest = (tmp_path / "index" / "_geometry.json").read_text()
    assert '"bands": 25' in manifest and '"signature_impl": "jvm"' in manifest
    # same geometry (via defaults) restarts cleanly
    run("ckpt1")
    # changed band geometry → loud failure (foreachBatch surfaces the
    # ValueError as a StreamingQueryException)
    df0.coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(pyspark.errors.StreamingQueryException) as ei:
        run("ckpt2", bands=5, rows_per_band=25)
    assert "geometry mismatch" in str(ei.value)
