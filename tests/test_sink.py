"""Idempotency / resume contract of the snapshot-table sink (K1, J2)."""

from __future__ import annotations

import os

from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "subj string, obj string, w long")


def test_merge_append_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "edges"), key_cols=["subj", "obj"])
    r1 = t.merge_append(_df(spark, [("a", "b", 1), ("a", "c", 2)]), run_id="r1")
    assert r1["rows_added"] == 2
    # replay of the same batch: zero new rows
    r2 = t.merge_append(_df(spark, [("a", "b", 1), ("a", "c", 2)]), run_id="r2")
    assert r2["rows_added"] == 0
    # overlapping batch: only the new key lands
    r3 = t.merge_append(_df(spark, [("a", "c", 9), ("d", "e", 3)]), run_id="r3")
    assert r3["rows_added"] == 1
    assert t.count() == 3
    t.assert_unique_keys(spark)
    assert [line["run_id"] for line in t.lineage()] == ["r1", "r2", "r3"]


def test_crash_before_commit_is_invisible(spark, tmp_path):
    root = str(tmp_path / "t")
    t = SnapshotTable(root, key_cols=["subj", "obj"])
    t.merge_append(_df(spark, [("a", "b", 1)]))
    # simulate a crashed writer: orphan parquet directory, no manifest
    orphan = os.path.join(root, "data", "part-999999-deadbeef")
    _df(spark, [("zz", "zz", 0)]).write.parquet(orphan)
    assert t.read(spark).count() == 1  # reader sees only manifest-listed files
    # resume: rerun the batch that "crashed" — lands exactly once
    t.merge_append(_df(spark, [("zz", "zz", 0)]))
    assert t.count() == 2


def test_dedup_within_batch(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "d"), key_cols=["subj", "obj"])
    r = t.merge_append(_df(spark, [("a", "b", 1), ("a", "b", 2)]))
    assert r["rows_added"] == 1


def test_partitioned_bucketed_sink(spark, tmp_path):
    import os

    t = SnapshotTable(
        str(tmp_path / "p"),
        key_cols=["subj", "obj"],
        bucket_expr="pmod(xxhash64(subj), 4)",
    )
    rows = [(f"s{i}", f"o{i}", i) for i in range(40)]
    t.merge_append(_df(spark, rows))
    # hive-style snapshot + bucket dirs exist
    data_root = os.path.join(str(tmp_path / "p"), "data")
    part = [d for d in os.listdir(data_root) if d.startswith("_snap=")][0]
    buckets = [
        d for d in os.listdir(os.path.join(data_root, part))
        if d.startswith("_bucket=")
    ]
    assert len(buckets) >= 2
    # read-back is complete and idempotent merge still holds
    assert t.read(spark).count() == 40
    t.merge_append(_df(spark, rows))
    assert t.count() == 40
    # partition pruning: a _bucket filter reaches PartitionFilters
    df = t.read(spark).filter("_bucket = 1")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(_bucket" in plan


def test_merge_prunes_to_staged_buckets(spark, tmp_path):
    """Round-3 hardening (VERDICT r2 #1): the duplicate anti-join must scan
    only the committed buckets the staged batch touches, via ordinary
    partition pruning on the ``_bucket`` dir column."""
    t = SnapshotTable(
        str(tmp_path / "pr"),
        key_cols=["subj", "obj"],
        bucket_expr="pmod(xxhash64(subj), 8)",
    )
    # commit a batch covering many buckets
    t.merge_append(_df(spark, [(f"s{i}", f"o{i}", i) for i in range(200)]))
    from pyspark.sql import functions as F

    staged = _df(spark, [("s1", "oX", 99)]).withColumn(
        "_bucket", F.expr("pmod(xxhash64(subj), 8)")
    )
    buckets = [r["_bucket"] for r in staged.select("_bucket").distinct().collect()]
    assert len(buckets) == 1
    existing = t._existing_for_merge(spark, buckets)
    existing.collect()
    plan = existing._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_bucket" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0]
    # and the scan READS strictly fewer files than the full table
    # (input_file_name is execution-true, unlike inputFiles which reports
    # the un-pruned relation)
    n_pruned = existing.select(F.input_file_name()).distinct().count()
    n_full = t.read(spark).select(F.input_file_name()).distinct().count()
    assert n_pruned < n_full
    # semantics unchanged: replay commits zero, new key in same bucket lands
    r = t.merge_append(_df(spark, [("s1", "o1", 1), ("s1", "oX", 99)]))
    assert r["rows_added"] == 1
    assert r["pruned_buckets"] == 1
    t.assert_unique_keys(spark)


def test_read_is_single_relation_across_many_commits(spark, tmp_path):
    """Plan depth must be O(1) in commit count: 6 commits, one FileScan."""
    t = SnapshotTable(
        str(tmp_path / "many"),
        key_cols=["subj", "obj"],
        bucket_expr="pmod(xxhash64(subj), 4)",
    )
    for c in range(6):
        t.merge_append(
            _df(spark, [(f"c{c}s{i}", f"o{i}", i) for i in range(10)]),
            run_id=f"r{c}",
        )
    df = t.read(spark)
    assert df.count() == 60
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "InMemoryFileIndex(6 paths)" in plan


def test_read_raises_on_type_conflict_across_commits(spark, tmp_path):
    """Two commits that wrote one column with different types make the
    merged read fail, rather than return a coerced union."""
    import pytest

    t = SnapshotTable(str(tmp_path / "conflict"), key_cols=["subj", "obj"])
    t.merge_append(_df(spark, [("a", "b", 1)]), run_id="r1")
    t.merge_append(
        spark.createDataFrame([("c", "d", "x")], "subj string, obj string, w string"),
        run_id="r2",
    )
    with pytest.raises(Exception, match="(?i)merge|incompatible"):
        t.read(spark)


def test_compaction_bounds_snapshot_count(spark, tmp_path):
    t = SnapshotTable(
        str(tmp_path / "cmp"),
        key_cols=["subj", "obj"],
        bucket_expr="pmod(xxhash64(subj), 4)",
        compact_after=3,
    )
    for c in range(5):
        t.merge_append(
            _df(spark, [(f"c{c}s{i}", f"o{i}", i) for i in range(8)]),
            run_id=f"r{c}",
        )
    # auto-compaction kept the live snapshot-root count bounded
    assert len(t.current_files()) <= 3
    assert t.count() == 40
    t.assert_unique_keys(spark)
    # superseded snapshot dirs were physically removed
    import os

    data_root = os.path.join(str(tmp_path / "cmp"), "data")
    live = {os.path.basename(f) for f in t.current_files()}
    on_disk = {d for d in os.listdir(data_root) if d.startswith("_snap=")}
    assert on_disk == live
    # replay after compaction still dedups
    r = t.merge_append(_df(spark, [("c0s0", "o0", 0)]))
    assert r["rows_added"] == 0


def test_reserved_columns_rejected(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    t = SnapshotTable(str(tmp_path / "rc"), key_cols=["subj", "obj"])
    bad = _df(spark, [("a", "b", 1)]).withColumn("_bucket", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        t.merge_append(bad)


def test_merge_null_bucket_still_deduplicates(spark, tmp_path):
    """ADVICE r3: a bucket_expr that yields NULL for some keys must not let
    duplicates in the NULL bucket bypass the anti-join — isin([None]) never
    matches NULL under three-valued logic, so the prune needs an explicit
    IS NULL disjunct."""
    t = SnapshotTable(
        str(tmp_path / "nb"),
        key_cols=["subj", "obj"],
        # NULL bucket for subjects starting with 'n', real buckets otherwise
        bucket_expr=(
            "CASE WHEN subj LIKE 'n%' THEN CAST(NULL AS INT) "
            "ELSE CAST(pmod(xxhash64(subj), 4) AS INT) END"
        ),
    )
    r1 = t.merge_append(
        _df(spark, [("null_key", "o1", 1), ("solid", "o2", 2)]), run_id="r1"
    )
    assert r1["rows_added"] == 2
    # replay: BOTH rows must anti-join away, including the NULL-bucket one
    r2 = t.merge_append(
        _df(spark, [("null_key", "o1", 9), ("solid", "o2", 9)]), run_id="r2"
    )
    assert r2["rows_added"] == 0
    # all-NULL staged batch: still dedups
    r3 = t.merge_append(_df(spark, [("null_key", "o1", 5)]), run_id="r3")
    assert r3["rows_added"] == 0
    # a fresh NULL-bucket key lands exactly once
    r4 = t.merge_append(_df(spark, [("null_two", "o9", 7)]), run_id="r4")
    assert r4["rows_added"] == 1
    t.assert_unique_keys(spark)


def test_compaction_crash_window(spark, tmp_path, monkeypatch):
    """VERDICT r3 item 9: compact() deletes superseded snapshot dirs AFTER
    the manifest commit. Simulate a crash in that window (cleanup raises)
    and assert (a) readers see exactly the compacted data — the manifest
    references only the new snapshot, so the stale dirs are invisible —
    and (b) a re-run reclaims the orphaned dirs."""
    import shutil as _shutil

    import biomedical_knowledge_graph_spark.sinks.table_format as tf

    root = str(tmp_path / "cw")
    t = SnapshotTable(root, key_cols=["subj", "obj"])
    t.merge_append(_df(spark, [("a", "b", 1)]), run_id="r1")
    t.merge_append(_df(spark, [("c", "d", 2)]), run_id="r2")
    t.merge_append(_df(spark, [("e", "f", 3)]), run_id="r3")
    data_dir = os.path.join(root, "data")
    assert len([d for d in os.listdir(data_dir) if d.startswith("_snap=")]) == 3

    # crash between manifest commit and cleanup: rmtree raises once
    real_rmtree = _shutil.rmtree
    calls = []

    def dying_rmtree(path, *a, **kw):
        calls.append(path)
        raise OSError("simulated crash during cleanup")

    monkeypatch.setattr(tf.shutil, "rmtree", dying_rmtree)
    try:
        t.compact(spark, run_id="compact-crash")
    except OSError:
        pass
    monkeypatch.setattr(tf.shutil, "rmtree", real_rmtree)

    # (a) manifest committed before the crash → readers see EXACTLY the
    # compacted data, stale dirs notwithstanding
    on_disk = [d for d in os.listdir(data_dir) if d.startswith("_snap=")]
    assert len(on_disk) == 4  # 3 stale + 1 compacted, nothing reclaimed yet
    assert len(t.current_files()) == 1
    rows = {(r.subj, r.obj, r.w) for r in t.read(spark).collect()}
    assert rows == {("a", "b", 1), ("c", "d", 2), ("e", "f", 3)}
    t.assert_unique_keys(spark)

    # (b) the next compact() vacuums the orphans even though there is
    # nothing left to merge (single live snapshot)
    report = t.compact(spark, run_id="compact-retry")
    assert report == {"compacted": 0}
    on_disk_after = [d for d in os.listdir(data_dir) if d.startswith("_snap=")]
    assert len(on_disk_after) == 1
    rows_after = {(r.subj, r.obj, r.w) for r in t.read(spark).collect()}
    assert rows_after == rows

    # and the table still accepts new commits
    r = t.merge_append(_df(spark, [("a", "b", 9), ("g", "h", 4)]), run_id="r4")
    assert r["rows_added"] == 1


def test_vacuum_survives_respelled_root(spark, tmp_path):
    """ADVICE r4 (high): liveness in vacuum is decided by snapshot NUMBER.

    A table committed under one spelling of its root and reopened under an
    equivalent-but-differently-spelled one ('/x/tbl' vs '/x/./tbl' vs a
    symlinked parent) must not treat every live snapshot as an orphan — a
    string comparison against the manifest's stored paths did exactly
    that, and a routine merge_append (via compact_after -> compact ->
    vacuum) destroyed the table."""
    canonical = str(tmp_path / "tbl")
    link = tmp_path / "alias"
    os.symlink(str(tmp_path), str(link))
    respellings = [
        str(tmp_path) + "/./tbl",
        str(tmp_path) + "//tbl",
        str(link / "tbl"),
    ]
    t1 = SnapshotTable(canonical, key_cols=["subj", "obj"], compact_after=2)
    t1.merge_append(_df(spark, [("a", "b", 1)]), run_id="r1")
    t1.merge_append(_df(spark, [("c", "d", 2)]), run_id="r2")

    # reopen under every equivalent spelling and vacuum via compact()
    for respelled in respellings:
        t2 = SnapshotTable(respelled, key_cols=["subj", "obj"])
        t2.compact(spark, run_id=f"compact-{respelled}")
        rows = {(r.subj, r.obj, r.w) for r in t2.read(spark).collect()}
        assert rows == {("a", "b", 1), ("c", "d", 2)}, respelled

    # and a routine append through a respelled handle (the reproduced
    # disaster path: merge_append -> auto-compact -> vacuum) is safe too
    t3 = SnapshotTable(
        respellings[0], key_cols=["subj", "obj"], compact_after=1
    )
    t3.merge_append(_df(spark, [("e", "f", 3)]), run_id="r3")
    rows = {(r.subj, r.obj, r.w) for r in t3.read(spark).collect()}
    assert rows == {("a", "b", 1), ("c", "d", 2), ("e", "f", 3)}
    t3.assert_unique_keys(spark)


def test_vacuum_still_reclaims_true_orphans_after_respell(spark, tmp_path, monkeypatch):
    """The respell fix must not break reclamation: a genuinely superseded
    dir (numbered <= HEAD, absent from the manifest) is still deleted
    when the table is vacuumed under a different root spelling."""
    import shutil as _shutil

    import biomedical_knowledge_graph_spark.sinks.table_format as tf

    t = SnapshotTable(str(tmp_path / "v"), key_cols=["subj", "obj"])
    t.merge_append(_df(spark, [("a", "b", 1)]), run_id="r1")
    t.merge_append(_df(spark, [("c", "d", 2)]), run_id="r2")
    # crash-window orphan: compact commits its manifest but dies in cleanup
    real_rmtree = _shutil.rmtree

    def dying_rmtree(path, *a, **kw):
        raise OSError("simulated crash during cleanup")

    monkeypatch.setattr(tf.shutil, "rmtree", dying_rmtree)
    try:
        t.compact(spark, run_id="c1")
    except OSError:
        pass
    monkeypatch.setattr(tf.shutil, "rmtree", real_rmtree)
    data_dir = str(tmp_path / "v" / "data")
    assert len([d for d in os.listdir(data_dir) if d.startswith("_snap=")]) == 3

    # reopen under a respelled root: vacuum reclaims the two stale
    # dirs and keeps the live one
    t2 = SnapshotTable(str(tmp_path) + "/./v", key_cols=["subj", "obj"])
    t2.compact(spark, run_id="c2")
    left = [d for d in os.listdir(data_dir) if d.startswith("_snap=")]
    assert left == ["_snap=3"]
    rows = {(r.subj, r.obj, r.w) for r in t2.read(spark).collect()}
    assert rows == {("a", "b", 1), ("c", "d", 2)}


def test_reader_snapshot_isolation_across_compact(spark, tmp_path):
    """VERDICT r4 item 9: reader contract under compaction. A DataFrame
    whose actions COMPLETE before compact() runs is unaffected (its
    results are already materialized); a fresh read() after compact
    re-resolves the manifest and sees identical content. The documented
    contract is single-writer + action-granularity snapshot isolation:
    in-flight actions racing the post-commit dir deletion are the same
    exposure as Iceberg expire_snapshots with zero retention."""
    t = SnapshotTable(str(tmp_path / "iso"), key_cols=["subj", "obj"])
    t.merge_append(_df(spark, [("a", "b", 1)]), run_id="r1")
    t.merge_append(_df(spark, [("c", "d", 2)]), run_id="r2")
    pre = t.read(spark)
    pre_rows = {(r.subj, r.obj, r.w) for r in pre.collect()}  # completed action
    t.compact(spark, run_id="c")
    post_rows = {(r.subj, r.obj, r.w) for r in t.read(spark).collect()}
    assert pre_rows == post_rows == {("a", "b", 1), ("c", "d", 2)}


def test_time_travel_read(spark, tmp_path):
    """read(as_of=N) returns the table exactly as of commit N; expired
    snapshots (vacuumed by compaction) raise instead of partial data."""
    import pytest as _pytest

    from biomedical_knowledge_graph_spark.sinks.table_format import (
        SnapshotTable,
    )

    table = SnapshotTable(str(tmp_path / "tt"), key_cols=["k"])
    for i in range(3):
        df = spark.createDataFrame(
            [(f"k{i}-{j}", i) for j in range(5)], "k string, v long"
        )
        table.merge_append(df, run_id=f"r{i}")

    assert table.read(spark, as_of=1).count() == 5
    assert table.read(spark, as_of=2).count() == 10
    assert table.read(spark, as_of=3).count() == 15
    assert table.read(spark).count() == 15
    # snapshot-2 content is the first two batches only
    ks = {r.k for r in table.read(spark, as_of=2).collect()}
    assert ks == {f"k{i}-{j}" for i in range(2) for j in range(5)}

    with _pytest.raises(ValueError, match="out of range"):
        table.read(spark, as_of=9)
    with _pytest.raises(ValueError, match="out of range"):
        table.read(spark, as_of=0)

    # compaction + vacuum expires the pre-compaction snapshots
    table.compact(spark, run_id="compact")
    assert table.read(spark).count() == 15
    with _pytest.raises(ValueError, match="EXPIRED"):
        table.read(spark, as_of=1)


def _committed_layout(spark, root, snap):
    """{bucket: rows} of one committed ``_snap`` dir, asserting every
    ``_bucket`` dir under it holds exactly one parquet file."""
    import glob

    snap_dir = os.path.join(root, "data", f"_snap={snap}")
    for b in glob.glob(os.path.join(snap_dir, "_bucket=*")):
        assert len(glob.glob(os.path.join(b, "*.parquet"))) == 1, b
    rows = spark.read.parquet(snap_dir).groupBy("_bucket").count().collect()
    return {r["_bucket"]: r["count"] for r in rows}


def test_one_file_per_bucket_per_commit(spark, tmp_path):
    """Every commit path (merge_append, delta_append, both compacts) writes
    one file per ``(snapshot, bucket)`` even when the staged frame spans
    more tasks than there are buckets, and the lineage counters equal a
    recount of what was committed."""
    from biomedical_knowledge_graph_spark.sinks.table_format import (
        AggregatingSnapshotTable,
    )

    conf = {
        "spark.sql.shuffle.partitions": "16",
        # keep the upstream stage at 16 tasks however small the batch
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        root = str(tmp_path / "m")
        t = SnapshotTable(
            root, key_cols=["subj", "obj"], bucket_expr="pmod(xxhash64(subj), 4)"
        )
        for batch in (range(0, 300), range(200, 500)):
            lin = t.merge_append(
                _df(spark, [(f"s{i}", f"o{i}", i) for i in batch])
            )
            counts = _committed_layout(spark, root, lin["snapshot"])
            assert lin["rows_added"] == sum(counts.values()) > 0
            assert {p["_bucket"]: p["rows"] for p in lin["partition_counts"]} == counts
        lin = t.compact(spark)
        assert sum(_committed_layout(spark, root, lin["snapshot"]).values()) == 500
        assert lin["rows_total"] == 500

        root = str(tmp_path / "a")
        a = AggregatingSnapshotTable(
            root,
            key_cols=["subj", "obj"],
            agg_spec={"w": "sum"},
            bucket_expr="pmod(xxhash64(subj), 4)",
        )
        for run, batch in (("d1", range(0, 300)), ("d2", range(200, 500))):
            lin = a.delta_append(
                _df(spark, [(f"s{i}", f"o{i}", 1) for i in batch]), run_id=run
            )
            counts = _committed_layout(spark, root, lin["snapshot"])
            assert lin["rows_added"] == sum(counts.values()) == 300
        lin = a.compact(spark)
        assert sum(_committed_layout(spark, root, lin["snapshot"]).values()) == 500
        assert lin["rows_total"] == 500
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_footer_counters_on_awkward_partitions(spark, tmp_path):
    """The lineage counters come from the written files' footers and hive
    dir names. Values Spark escapes (``/``, ``=``, ``%``), a space,
    non-ASCII, ``""`` and NULL, and a NULL bucket, must come back with the
    values and Python types of a recount of the committed snapshot. Spark
    writes ``""`` as the default (NULL) partition, so the reference is the
    snapshot read back, not the input."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "awk")
    t = SnapshotTable(
        root,
        key_cols=["k"],
        partition_cols=["p"],
        bucket_expr=(
            "CASE WHEN k LIKE 'n%' THEN CAST(NULL AS INT) "
            "ELSE CAST(pmod(xxhash64(k), 3) AS INT) END"
        ),
    )
    values = ["a/b", "x=y", "50%", "a b", "é✓ü", "", None, "plain"]

    def batch(tag):
        rows = [
            (f"{pre}{tag}{i}", values[i % len(values)], i)
            for i in range(48)
            for pre in ("k", "n")
        ]
        return spark.createDataFrame(rows, "k string, p string, v long")

    # first commit (no probe) and a merge into the non-empty table (probe)
    for tag in ("a", "b"):
        lin = t.merge_append(batch(tag), run_id=tag)
        snap_dir = os.path.join(root, "data", f"_snap={lin['snapshot']}")
        recount = [
            {"p": r["p"], "_bucket": r["_bucket"], "rows": r["count"]}
            for r in spark.read.parquet(snap_dir)
            .groupBy("p", "_bucket")
            .count()
            .orderBy("p", "_bucket")
            .collect()
        ]
        assert any(c["p"] is None for c in recount)
        assert any(c["_bucket"] is None for c in recount)
        for got in (lin["partition_counts"], t.lineage()[-1]["partition_counts"]):
            assert [[(k, v, type(v)) for k, v in c.items()] for c in got] == [
                [(k, v, type(v)) for k, v in c.items()] for c in recount
            ]
        assert lin["rows_added"] == sum(c["rows"] for c in recount) == 96
        # 3 hashed buckets + NULL: from the footers on the first commit,
        # from the bucket probe on the second
        assert lin["pruned_buckets"] == 4
    # "" and NULL both read back as NULL: 2 of every 8 of the 192 rows
    assert t.read(spark).filter(F.col("p").isNull()).count() == 48


def test_commit_spark_actions(spark, tmp_path, sql_executions):
    """Commit bookkeeping adds no Spark action: a first commit, a delta
    append and each compaction are exactly one SQL execution (the write);
    a merge into a non-empty bucketed table is two (bucket probe + write);
    ``count`` reads footers and runs none. A counter re-derived with
    count()/collect() fails here."""
    from biomedical_knowledge_graph_spark.sinks.table_format import (
        AggregatingSnapshotTable,
    )

    def rows(lo, hi, w=1):
        return _df(spark, [(f"s{i}", f"o{i}", w) for i in range(lo, hi)])

    bucket = "pmod(xxhash64(subj), 4)"
    for b in (bucket, None):
        t = SnapshotTable(
            str(tmp_path / f"m{b is None}"), key_cols=["subj", "obj"], bucket_expr=b
        )
        assert t.count() == 0
        assert sql_executions(lambda: t.merge_append(rows(0, 30))) == 1
        expect = 2 if b else 1
        assert sql_executions(lambda: t.merge_append(rows(20, 50))) == expect
        assert sql_executions(t.count) == 0 and t.count() == 50
        assert sql_executions(lambda: t.compact(spark)) == 1
        assert t.lineage()[-1]["rows_total"] == 50

    a = AggregatingSnapshotTable(
        str(tmp_path / "a"),
        key_cols=["subj", "obj"],
        agg_spec={"w": "sum"},
        bucket_expr=bucket,
    )
    for run in ("d1", "d2"):
        n = sql_executions(lambda: a.delta_append(rows(0, 30), run_id=run))
        assert n == 1
    assert sql_executions(lambda: a.delta_append(rows(0, 30), run_id="d1")) == 0
    assert sql_executions(lambda: a.compact(spark)) == 1
    assert a.lineage()[-1]["rows_total"] == 30


def test_persisted_shuffle_is_coalesced(spark):
    """AQE sizes a persisted plan's final shuffle like any other
    (session.py): the sink's staged merge batch, a ``dropDuplicates`` of
    ~500 rows, caches into fewer partitions than
    ``spark.sql.shuffle.partitions``. With Spark's default such a cache
    kept all ``spark.sql.shuffle.partitions`` partitions, and each reader
    ran one task per partition."""
    rows = _df(spark, [(f"s{i % 250}", f"o{i % 250}", i) for i in range(500)])
    staged = rows.dropDuplicates(["subj", "obj"]).persist()
    try:
        assert staged.count() == 250
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert staged.rdd.getNumPartitions() < shuffle_parts
    finally:
        staged.unpersist()
