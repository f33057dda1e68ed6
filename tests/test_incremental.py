"""Incremental KG construction (round 5): disjoint crawl increments fold
partial co-occurrence counts into a merge-on-read counter table; the
published edge view must equal a from-scratch build over the union."""

from __future__ import annotations

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark import fixtures
from biomedical_knowledge_graph_spark.plans.pipeline import (
    build_kg,
    build_kg_increment,
    published_triples,
)
from biomedical_knowledge_graph_spark.sinks.table_format import (
    AggregatingSnapshotTable,
)


def _pages(spark, n=240, seed=11):
    pdf = fixtures.pages_pdf(n_pages=n, seed=seed)
    return spark.createDataFrame(pdf, schema=fixtures.PAGES_SCHEMA)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_equals_full_build(spark, tmp_path):
    """Three disjoint increments -> published view == full build. Pins the
    additive-counts algebra end-to-end, including sub-threshold pairs
    carried across increments and promoted once their TOTAL crosses the
    publication threshold."""
    pages = _pages(spark).cache()
    dim = fixtures.entity_dict_df(spark)

    table = AggregatingSnapshotTable(
        str(tmp_path / "counts"),
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
        bucket_expr="pmod(xxhash64(subj), 8)",
    )
    # disjoint split by url hash: every page in exactly one increment
    batches = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == i)
        for i in range(3)
    ]
    assert sum(b.count() for b in batches) == pages.count()
    for i, batch in enumerate(batches):
        lineage = build_kg_increment(
            spark, batch, dim, table, run_id=f"crawl-{i}"
        )
        assert lineage["rows_added"] > 0 and "replayed" not in lineage

    got = _rows(published_triples(spark, table, min_cooccur=3))
    want = _rows(build_kg(spark, pages, dim, min_cooccur=3).triples)
    assert got == want and len(got) > 0

    # sub-threshold promotion really happened: at a threshold above any
    # single increment's weights, a solo increment publishes strictly
    # fewer edges than the merged total — those pairs were carried below
    # threshold and promoted by later increments
    solo = AggregatingSnapshotTable(
        str(tmp_path / "solo"),
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
    )
    build_kg_increment(spark, batches[0], dim, solo, run_id="solo-0")
    strict = 30
    merged_strict = _rows(published_triples(spark, table, min_cooccur=strict))
    solo_strict = _rows(published_triples(spark, solo, min_cooccur=strict))
    assert len(solo_strict) < len(merged_strict) and len(merged_strict) > 0
    pages.unpersist()


def test_increment_replay_is_exact_noop(spark, tmp_path):
    """Crashed-and-replayed increments must not double counts: the same
    run_id commits exactly once (batch-granular exactly-once)."""
    pages = _pages(spark, n=80, seed=3)
    dim = fixtures.entity_dict_df(spark)
    table = AggregatingSnapshotTable(
        str(tmp_path / "c"), key_cols=["subj", "obj"], agg_spec={"weight": "sum"}
    )
    build_kg_increment(spark, pages, dim, table, run_id="r1")
    before = _rows(published_triples(spark, table, min_cooccur=2))
    head = table._head()
    # the replay is answered from the manifest before any planning: it
    # runs no Spark job at all
    sc = spark.sparkContext
    sc.setJobGroup("increment-replay", "replayed build_kg_increment")
    try:
        replay = build_kg_increment(spark, pages, dim, table, run_id="r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("increment-replay")) == []
    assert replay == {"run_id": "r1", "rows_added": 0, "replayed": True}
    assert table._head() == head
    assert _rows(published_triples(spark, table, min_cooccur=2)) == before
    # a NEW run_id with the same pages is a (wrong but distinct) commit —
    # counts double, proving the no-op above came from run_id tracking,
    # not accidental deduplication
    build_kg_increment(spark, pages, dim, table, run_id="r2")
    doubled = {
        (r.subj, r.obj): r.weight
        for r in table.read_merged(spark).collect()
    }
    base = {
        (r[0], r[2]): r[3] for r in before
    }
    for k, w in base.items():
        assert doubled[k] == 2 * w


def test_compaction_preserves_merged_counts(spark, tmp_path):
    """LSM compaction collapses deltas without changing read_merged, and
    replay protection SURVIVES it (manifests outlive data rewrites)."""
    import os

    pages = _pages(spark, n=120, seed=5)
    dim = fixtures.entity_dict_df(spark)
    table = AggregatingSnapshotTable(
        str(tmp_path / "c"),
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
        bucket_expr="pmod(xxhash64(subj), 4)",
    )
    batches = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(2)) == i)
        for i in range(2)
    ]
    for i, b in enumerate(batches):
        build_kg_increment(spark, b, dim, table, run_id=f"r{i}")
    before = _rows(table.read_merged(spark))
    report = table.compact(spark)
    assert report["compacted_snapshots"] == 2
    assert _rows(table.read_merged(spark)) == before
    data_dir = os.path.join(str(tmp_path / "c"), "data")
    assert len([d for d in os.listdir(data_dir) if d.startswith("_snap=")]) == 1
    # replay of an already-committed increment is STILL a no-op
    replay = build_kg_increment(spark, batches[0], dim, table, run_id="r0")
    assert replay["replayed"] is True
    assert _rows(table.read_merged(spark)) == before


def test_auto_compaction_bounds_delta_count(spark, tmp_path):
    """compact_after keeps read amplification O(1) under many increments."""
    import os

    dim = fixtures.entity_dict_df(spark)
    table = AggregatingSnapshotTable(
        str(tmp_path / "c"),
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
        compact_after=3,
    )
    pages = _pages(spark, n=120, seed=7)
    batches = [
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(6)) == i)
        for i in range(6)
    ]
    for i, b in enumerate(batches):
        build_kg_increment(spark, b, dim, table, run_id=f"r{i}")
    data_dir = os.path.join(str(tmp_path / "c"), "data")
    live = [d for d in os.listdir(data_dir) if d.startswith("_snap=")]
    assert len(live) <= 4  # bounded, not 6
    got = _rows(published_triples(spark, table, min_cooccur=3))
    want = _rows(build_kg(spark, pages, dim, min_cooccur=3).triples)
    assert got == want


def test_delta_append_contract_errors(spark, tmp_path):
    table = AggregatingSnapshotTable(
        str(tmp_path / "c"), key_cols=["k"], agg_spec={"v": "sum"}
    )
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    import pytest

    with pytest.raises(ValueError, match="run_id"):
        table.delta_append(df, run_id="")
    with pytest.raises(ValueError, match="contract"):
        table.delta_append(df.withColumn("extra", F.lit(1)), run_id="x")
    with pytest.raises(ValueError, match="merge functions"):
        AggregatingSnapshotTable(
            str(tmp_path / "d"), key_cols=["k"], agg_spec={"v": "avg"}
        )


def test_stream_delta_to_table(spark, tmp_path):
    """Streaming incremental counts: micro-batches delta-append into the
    counter table via foreachBatch with epoch-id replay keys; the merged
    result equals a batch aggregation of the same rows."""
    from biomedical_knowledge_graph_spark.streaming import events as streaming

    src = str(tmp_path / "src")
    rows = [(f"k{i % 5}", f"j{i % 3}", 1) for i in range(60)]
    df = spark.createDataFrame(rows, "subj string, obj string, weight long")
    df.write.mode("overwrite").parquet(src)

    table = AggregatingSnapshotTable(
        str(tmp_path / "counts"),
        key_cols=["subj", "obj"],
        agg_spec={"weight": "sum"},
    )
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = streaming.stream_delta_to_table(
        stream, table, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.subj, r.obj): r.weight for r in table.read_merged(spark).collect()
    }
    want = {
        (r.subj, r.obj): r["sum(weight)"]
        for r in df.groupBy("subj", "obj").sum("weight").collect()
    }
    assert got == want and len(got) == 15
    # epoch replay protection: re-appending an already-seen epoch id is a
    # no-op even straight through the table API. The run_id the stream
    # wrote is namespaced by the checkpoint path (epoch ids are only
    # unique within one query lineage).
    ns = streaming._delta_replay_namespace(str(tmp_path / "ckpt"))
    replay = table.delta_append(df, run_id=f"{ns}-epoch-0")
    assert replay["replayed"] is True
    got2 = {
        (r.subj, r.obj): r.weight for r in table.read_merged(spark).collect()
    }
    assert got2 == want
    # a DIFFERENT lineage's epoch-0 must NOT collide with this one:
    # same epoch number under another checkpoint dir is new data
    ns2 = streaming._delta_replay_namespace(str(tmp_path / "ckpt2"))
    assert ns2 != ns
    fresh = table.delta_append(df, run_id=f"{ns2}-epoch-0")
    assert fresh.get("replayed") is not True
    got3 = {
        (r.subj, r.obj): r.weight for r in table.read_merged(spark).collect()
    }
    assert got3 == {k: 2 * v for k, v in want.items()}


def test_delta_sequence_property(spark, tmp_path):
    """Hypothesis: for ANY sequence of delta_append / replayed-append /
    compact operations, read_merged equals one batch aggregation of the
    distinct-run_id inputs — across all three merge functions at once.
    This is the algebraic contract everything incremental rests on
    (disjoint increments fold exactly; replays and compaction are
    invisible to the merged view)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings, strategies as st

    row = st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-5, max_value=5),
    )
    batch = st.lists(row, min_size=1, max_size=6)
    # ops: each entry is (batch_rows, replay_this_batch_again, compact_after)
    ops = st.lists(
        st.tuples(batch, st.booleans(), st.booleans()),
        min_size=1,
        max_size=4,
    )

    @given(ops=ops)
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(ops):
        root = tempfile.mkdtemp(dir=str(tmp_path), prefix="prop_")
        try:
            table = AggregatingSnapshotTable(
                root,
                key_cols=["k"],
                agg_spec={"s": "sum", "lo": "min", "hi": "max"},
            )
            expect: dict[str, tuple[int, int, int]] = {}
            for i, (rows, replay, do_compact) in enumerate(ops):
                df = spark.createDataFrame(
                    [(k, v, v, v) for k, v in rows],
                    "k string, s long, lo long, hi long",
                )
                table.delta_append(df, run_id=f"inc-{i}")
                if replay:  # crashed-and-replayed increment: exact no-op
                    table.delta_append(df, run_id=f"inc-{i}")
                if do_compact:
                    table.compact(spark)
                for k, v in rows:
                    s, lo, hi = expect.get(k, (0, v, v))
                    expect[k] = (s + v, min(lo, v), max(hi, v))
            got = {
                r.k: (r.s, r.lo, r.hi)
                for r in table.read_merged(spark).collect()
            }
            assert got == expect
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()
