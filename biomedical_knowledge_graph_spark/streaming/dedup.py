"""Streaming near-duplicate detection: continuous-ingest MinHash dedup.

The batch incremental operator (operators/dedup.py:
minhash_dedup_pairs_incremental) dedupes one new batch against a prebuilt
``MinHashIndex``; this module turns that into the ingest-time shape a
training-data firehose needs: each micro-batch is deduped against the
index of ALL PRIOR batches, then contributes its own index rows. Cost per
micro-batch stays ∝ batch + touched buckets — the corpus is only ever
touched through the stored index, exactly the property that lets dedup
keep up with an unbounded stream.

State lives in epoch-partitioned parquet (``index_dir/{bands,postings,
sizes}/epoch=N``, ``pairs_dir/epoch=N``), NOT the streaming state store:
the index is corpus-sized (far beyond state-store budgets) and is exactly
the table a batch backfill or a downstream keep-one job reads. Replay
safety: a re-executed epoch N rebuilds its index view from epochs < N
only and overwrites its own partitions — byte-identical output, no
duplicate pairs, no index double-append (the same replay-idempotency
contract as the delta sink, enforced per-partition instead of per-key).

Reference analogue: the reference's builders dedup edges per run inside
one driver process (kg_scripts/go_kg_builder.py:1317-1343); there is no
streaming form to port — this is engine capability beyond the reference,
same as streaming/events.py.
"""

from __future__ import annotations

import inspect
import json

from pyspark.sql import DataFrame, SparkSession

from biomedical_knowledge_graph_spark.operators.dedup import (
    MinHashIndex,
    minhash_dedup_pairs,
    minhash_dedup_pairs_incremental,
    minhash_index,
)

_INDEX_SCHEMAS = {
    "bands": "{id} {idt}, band int, bucket bigint",
    "postings": "{id} {idt}, shingle string",
    "sizes": "{id} {idt}, sz bigint",
}

# every parameter that changes the BYTES the index stores: shingle width
# (postings), hash family size / seed (signature values), band
# geometry (bucket hashes). A restart with any of these changed probes
# the old band table with incompatible buckets and silently misses
# cross-epoch duplicates (ADVICE r6 item 2) — so the first epoch writes
# a manifest and every later epoch validates against it, failing loudly.
_GEOMETRY_KEYS = ("n", "num_hashes", "bands", "rows_per_band", "seed")


def _effective_geometry(minhash_kwargs: dict) -> dict:
    """The resolved index geometry: explicit kwargs overlaid on the batch
    operator's own defaults (single source of truth — no copied literals).
    ``signature_impl`` is the constant ``"jvm"``: the signature family is
    no longer selectable, but manifests written while it was still carry
    the key, and those indexes must keep passing the restart check."""
    params = inspect.signature(minhash_dedup_pairs_incremental).parameters
    geo = {
        k: minhash_kwargs.get(k, params[k].default) for k in _GEOMETRY_KEYS
    }
    geo["signature_impl"] = "jvm"
    return geo


def _validate_geometry_manifest(
    spark: SparkSession, index_dir: str, minhash_kwargs: dict
) -> None:
    """Write ``index_dir/_geometry.json`` on the first epoch; on every
    later epoch require the current kwargs to resolve to the same
    geometry. Hadoop FileSystem API (not driver-local open()) so the
    manifest rides whatever filesystem the index lives on."""
    geo = _effective_geometry(minhash_kwargs)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/_geometry.json")
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        stream = fs.open(hpath)
        try:
            stored = json.loads(
                jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
            )
        finally:
            stream.close()
        if stored != geo:
            raise ValueError(
                "stream_dedup_minhash: MinHash geometry mismatch — the "
                f"stored index at {index_dir!r} was built with {stored}, "
                f"this restart resolves to {geo}. Probing the old band "
                "table with incompatible buckets would silently miss "
                "cross-epoch duplicates; rebuild the index or restore "
                "the original parameters."
            )
        return
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(geo, sort_keys=True), "utf-8"))
    finally:
        out.close()


def _epochs_before(
    spark: SparkSession, path: str, epoch_id: int
) -> list[str]:
    """Partition dirs of strictly-earlier epochs (replay isolation: a
    re-executed epoch must not see index rows later epochs appended).

    Listed through the Hadoop FileSystem API, NOT driver-local
    os.listdir: the index may live on any Spark-writable filesystem
    (hdfs://, s3a://, ...) where a local listing would silently return
    nothing and every epoch would run the empty-index branch (review
    r6) — cross-epoch duplicates would just quietly not be found."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.startswith("epoch="):
            try:
                if int(name.split("=", 1)[1]) < epoch_id:
                    out.append(st.getPath().toString())
            except ValueError:
                continue
    return sorted(out)


def read_index_before(
    spark: SparkSession,
    index_dir: str,
    epoch_id: int,
    id_col: str = "doc_id",
    id_type: str = "bigint",
) -> MinHashIndex | None:
    """The MinHashIndex as of (strictly before) ``epoch_id``; None when no
    prior epoch exists."""
    parts = {
        name: _epochs_before(spark, f"{index_dir}/{name}", epoch_id)
        for name in _INDEX_SCHEMAS
    }
    if not parts["bands"]:
        return None
    frames = {
        name: spark.read.schema(
            _INDEX_SCHEMAS[name].format(id=id_col, idt=id_type)
        ).parquet(*dirs)
        for name, dirs in parts.items()
    }
    return MinHashIndex(
        bands=frames["bands"],
        postings=frames["postings"],
        sizes=frames["sizes"],
    )


def stream_dedup_minhash(
    stream: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **minhash_kwargs,
):
    """writeStream → foreachBatch incremental MinHash dedup. Each epoch:
    (1) dedup the micro-batch against the index of prior epochs,
    (2) write the epoch's near-dup pairs to ``pairs_dir/epoch=N``,
    (3) append the batch's own index rows under ``index_dir/*/epoch=N``.
    Returns the StreamingQuery. Batch ids must be globally unique across
    the stream (same precondition as the batch incremental operator)."""
    id_type = stream.schema[id_col].dataType.simpleString()

    def batch_fn(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        _validate_geometry_manifest(spark, index_dir, minhash_kwargs)
        batch_df = batch_df.select(id_col, text_col).persist()
        try:
            prior = read_index_before(
                spark, index_dir, epoch_id, id_col, id_type
            )
            if prior is None:
                # first epoch: nothing prior — the batch operator IS the
                # incremental operator with an empty corpus
                pairs = minhash_dedup_pairs(
                    batch_df, id_col, text_col,
                    threshold=threshold, **minhash_kwargs,
                )
            else:
                pairs = minhash_dedup_pairs_incremental(
                    batch_df, prior, id_col, text_col,
                    threshold=threshold, **minhash_kwargs,
                )
            # overwrite-own-partition: replayed epochs are idempotent
            pairs.write.mode("overwrite").parquet(
                f"{pairs_dir}/epoch={epoch_id}"
            )
            # the three index frames share one cached shingle scan across
            # their three writes instead of re-shingling the batch per write
            idx = minhash_index(batch_df, id_col, text_col, **minhash_kwargs)
            try:
                for name, frame in (
                    ("bands", idx.bands),
                    ("postings", idx.postings),
                    ("sizes", idx.sizes),
                ):
                    frame.write.mode("overwrite").parquet(
                        f"{index_dir}/{name}/epoch={epoch_id}"
                    )
            finally:
                idx.unpersist()
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(batch_fn)
        .start()
    )
