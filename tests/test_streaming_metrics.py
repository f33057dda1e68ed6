"""Streaming operators + golden-metrics module."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from biomedical_knowledge_graph_spark.plans import metrics
from biomedical_knowledge_graph_spark.sinks.table_format import SnapshotTable
from biomedical_knowledge_graph_spark.streaming import events as streaming


def _events(spark, path):
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=m), 100 + (i % 3), etype, float(i))
        for i, (m, etype) in enumerate(
            [
                (0, "click"), (1, "click"), (2, "view"), (6, "click"),
                (7, "view"), (50, "click"), (51, "view"), (52, "click"),
            ]
        )
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.write.mode("overwrite").parquet(path)
    return df


def test_sessionize(spark, tmp_path):
    df = _events(spark, str(tmp_path / "ev2"))
    sess = streaming.sessionize(df, gap_minutes=30)
    per_user = (
        sess.groupBy("user_id")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .collect()
    )
    # 50-minute gap splits each user's events into 2 sessions
    assert all(r.n_sessions == 2 for r in per_user)


def test_stream_merge_exactly_once(spark, tmp_path):
    path = str(tmp_path / "ev3")
    df = _events(spark, path)
    table = SnapshotTable(str(tmp_path / "sink"), key_cols=["event_id"])
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = streaming.stream_merge_to_table(
        stream.select("event_id", "event_type", "value"),
        table,
        str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert table.count() == df.count()
    # replay the same data as a fresh batch → no dupes (key-based resume)
    table.merge_append(df.select("event_id", "event_type", "value"))
    assert table.count() == df.count()
    table.assert_unique_keys(spark)


def test_golden_metrics(spark):
    nodes = spark.createDataFrame(
        [("E1", "gene"), ("E2", "gene"), ("E3", "term"), ("E4", "term")],
        "entity_id string, entity_type string",
    )
    triples = spark.createDataFrame(
        [
            ("E1", "CO_OCCURS_WITH", "E2", 5, "low"),
            ("E1", "CO_OCCURS_WITH", "E3", 60, "high"),
            ("E2", "CO_OCCURS_WITH", "E5", 12, "medium"),  # dangling E5
        ],
        "subj string, pred string, obj string, weight long, confidence string",
    )
    report = metrics.collect_all_metrics(nodes, triples)
    assert report["total_nodes"] == 4
    assert report["nodes_by_type"] == {"gene": 2, "term": 2}
    assert report["total_edges"] == 3
    assert report["edges_by_type"] == {"CO_OCCURS_WITH": 3}
    assert report["edges_by_confidence"] == {"low": 1, "high": 1, "medium": 1}
    assert report["orphan_nodes"] == 1  # E4
    assert report["dangling_endpoints"] == 1  # E5
    assert report["max_degree"] == 2  # E1
    import json

    json.dumps(report)  # must be JSON-serializable as-is


def _per_metric_report(nodes, triples):
    """The golden report as the seven separate actions it used to take
    (by-type, by-pred, degree, orphan, dangling and by-confidence) — the
    reference ``collect_all_metrics`` must match key for key."""
    def by(df, col):
        return {r[col]: r["n"] for r in df.groupBy(col).agg(F.count("*").alias("n")).collect()}

    ep = triples.select(F.col("subj").alias("node")).unionByName(
        triples.select(F.col("obj").alias("node"))
    )
    deg = ep.groupBy("node").agg(F.count("*").alias("degree")).agg(
        F.count("*").alias("c"), F.avg("degree").alias("a"), F.max("degree").alias("m")
    ).collect()[0]
    ids = nodes.select("entity_id").distinct()
    eps = ep.withColumnRenamed("node", "entity_id").distinct()
    nodes_by_type, edges_by_type = by(nodes, "entity_type"), by(triples, "pred")
    return {
        "total_nodes": sum(nodes_by_type.values()),
        "nodes_by_type": nodes_by_type,
        "total_edges": sum(edges_by_type.values()),
        "edges_by_type": edges_by_type,
        "connected_nodes": deg["c"],
        "avg_degree": round(deg["a"], 4) if deg["a"] else 0.0,
        "max_degree": deg["m"],
        "orphan_nodes": ids.join(eps, "entity_id", "left_anti").count(),
        "dangling_endpoints": eps.join(ids, "entity_id", "left_anti").count(),
        "edges_by_confidence": by(triples, "confidence"),
    }


def test_golden_metrics_two_pass_matches_per_metric_report(spark):
    """Orphans (E4, and a NULL node id), dangling endpoints (E5, a NULL
    obj), a duplicated node row, a NULL type, a NULL confidence tier, two
    predicates; then the same nodes with no edges at all (every tier
    empty, avg_degree 0.0, max_degree None)."""
    nodes = spark.createDataFrame(
        [("E1", "gene"), ("E1", "gene"), ("E2", "gene"), ("E3", "term"),
         ("E4", "term"), ("E6", None), (None, "term")],
        "entity_id string, entity_type string",
    )
    triples = spark.createDataFrame(
        [
            ("E1", "CO_OCCURS_WITH", "E2", 5, "low"),
            ("E1", "CO_OCCURS_WITH", "E3", 60, "high"),
            ("E2", "CO_OCCURS_WITH", "E5", 12, "medium"),
            ("E3", "IS_A", "E6", 1, None),
            ("E6", "IS_A", None, 1, None),
            ("E3", "PART_OF", "E1", 1, "high"),
        ],
        "subj string, pred string, obj string, weight long, confidence string",
    )
    got = metrics.collect_all_metrics(nodes, triples)
    ref = _per_metric_report(nodes, triples)
    assert got == ref and list(got) == list(ref)
    assert (got["orphan_nodes"], got["dangling_endpoints"]) == (2, 2)
    empty = triples.limit(0)
    got = metrics.collect_all_metrics(nodes, empty)
    assert got == _per_metric_report(nodes, empty)
    assert got["edges_by_confidence"] == {} and got["avg_degree"] == 0.0


def test_format_report_human_readable():
    report = {
        "total_nodes": 4,
        "nodes_by_type": {"gene": 2, "term": 2},
        "total_edges": 3,
        "edges_by_type": {"CO_OCCURS_WITH": 3},
        "edges_by_confidence": {"high": 1, "low": 2},
        "avg_degree": 1.5,
        "max_degree": 2,
        "orphan_nodes": 1,
        "dangling_endpoints": 0,
    }
    text = metrics.format_report(report)
    assert "KNOWLEDGE GRAPH BUILD REPORT" in text
    assert "gene" in text and "CO_OCCURS_WITH" in text
    assert "confidence=high" in text


def test_sink_partition_counts_lineage(spark, tmp_path):
    """merge_append records per-partition row counters in the lineage row."""
    table = SnapshotTable(
        str(tmp_path / "pc_sink"),
        key_cols=["k"],
        bucket_expr="pmod(xxhash64(k), 4)",
    )
    df = spark.createDataFrame([(f"k{i}", i) for i in range(40)], "k string, v long")
    lineage = table.merge_append(df, run_id="r1")
    pcs = lineage["partition_counts"]
    assert pcs and sum(p["rows"] for p in pcs) == 40
    assert {p["_bucket"] for p in pcs} <= {0, 1, 2, 3}
    # replay: zero rows added, empty counters
    lineage2 = table.merge_append(df, run_id="r2")
    assert lineage2["rows_added"] == 0 and lineage2["partition_counts"] is None


def test_sessionize_stream_equals_batch(spark, tmp_path):
    """session_window (streaming-native) ≡ the batch lag/cumsum sessionize:
    same session boundaries, counts, and value sums — including an event
    at EXACTLY the gap boundary (both MERGE it: session_window uses the
    closed interval [start, last+gap]). Run once as a real stream (append
    mode, watermark-closed sessions) and once as a batch frame."""
    import datetime as dt2

    base = dt2.datetime(2024, 3, 1, 8, 0, 0)
    rows = []
    # user 100: events at 0,10,20 min (one session), then 80,85 (second)
    for i, m in enumerate([0, 10, 20, 80, 85]):
        rows.append((i, base + dt2.timedelta(minutes=m), 100, "click", float(m)))
    # user 200: one gap of EXACTLY 30 min (merges — session_window treats
    # the session as closed-interval [start, last+gap] for merging) and a
    # later gap of 31 min (splits)
    rows.append((10, base, 200, "view", 1.0))
    rows.append((11, base + dt2.timedelta(minutes=30), 200, "view", 2.0))
    rows.append((12, base + dt2.timedelta(minutes=61), 200, "view", 3.0))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    path = str(tmp_path / "sess_ev")
    df.write.mode("overwrite").parquet(path)

    gap = 30

    # batch lag/cumsum form → per-session (user, start, last+gap, n, sum)
    batch_sessions = sorted(
        map(
            tuple,
            streaming.sessionize(df, gap_minutes=gap)
            .groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("session_start"),
                (F.max("ts") + F.expr(f"INTERVAL {gap} MINUTES")).alias(
                    "session_end"
                ),
                F.count("*").alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .select(
                "user_id", "session_start", "session_end", "n_events", "sum_value"
            )
            .collect(),
        )
    )
    assert len(batch_sessions) == 4  # 2 per user

    # session_window on the same BATCH frame
    batch_sw = sorted(
        map(tuple, streaming.sessionize_stream(df, gap_minutes=gap).collect())
    )
    assert batch_sw == batch_sessions

    # and as a real stream: append mode emits watermark-closed sessions
    stream = spark.readStream.schema(df.schema).parquet(path)
    q = (
        streaming.sessionize_stream(stream, gap_minutes=gap, watermark="1 minute")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        # append mode holds back sessions the watermark hasn't passed; a
        # second empty trigger advances nothing, so compare the emitted
        # subset — every emitted row must be a batch session, and all
        # sessions closed before max_ts - watermark must have been emitted
        streamed = sorted(
            map(tuple, spark.sql("SELECT * FROM sess_out").collect())
        )
    finally:
        q.stop()
    assert set(streamed) <= set(batch_sessions)
    closed_by_watermark = [
        s
        for s in batch_sessions
        # max event ts = base+85min; watermark 1min → horizon base+84min
        if s[2] <= base + dt2.timedelta(minutes=84)
    ]
    assert set(closed_by_watermark) <= set(streamed)
    # horizon 9:24 closes exactly the 8:50 and 9:00 sessions
    assert set(streamed) == set(closed_by_watermark)
    assert len(streamed) == 2
