"""Layer wrappers for the traced run and the per-layer summary.

Layers are named after the engine's modules. ``install`` wraps the public
functions each job looks up at call time (the way ``tests/test_job.py``
patches ``read_obo_terms``); ``layer_metrics`` turns the spans of the
traced pass into the per-layer metrics.
"""

from __future__ import annotations

import time

from biomedical_knowledge_graph_spark.jobs import full_build_job
from biomedical_knowledge_graph_spark.plans import pipeline, validation
from biomedical_knowledge_graph_spark.sinks.table_format import (
    AggregatingSnapshotTable,
    SnapshotTable,
)
from perfbench import trace as T
from perfbench.workloads import OUTLIERS

# every per-layer metric, in report order, with its unit
METRICS: dict[str, str] = {
    "session.start_s": "s",
    "readers.obo_parse_s": "s",
    "readers.terms": "count",
    "extraction.wall_s": "s",
    "extraction.rows_out": "count",
    "extraction.python_cpu_s": "s",
    "mentions.wall_s": "s",
    "mentions.rows_out": "count",
    "mentions.python_cpu_s": "s",
    "mentions.task_cpu_s": "s",
    "mentions.shuffle_mb": "MB",
    "linking.wall_s": "s",
    "linking.rows_out": "count",
    "pipeline.driver_s": "s",
    "pipeline.jobs": "count",
    "cooccurrence.wall_s": "s",
    "cooccurrence.task_cpu_s": "s",
    "cooccurrence.shuffle_mb": "MB",
    "cooccurrence.spill_mb": "MB",
    "cooccurrence.jobs": "count",
    "cooccurrence.pair_yield": "ratio",
    "cooccurrence.pair_base": "count",
    "sink.merge_s": "s",
    "sink.rows_staged": "count",
    "sink.rows_added": "count",
    "sink.added_ratio": "ratio",
    "sink.write_mb": "MB",
    "sink.delta_s": "s",
    "sink.compact_s": "s",
    "sink.compactions": "count",
    "sink.read_merged_s": "s",
    "sink.jobs": "count",
    "validation.wall_s": "s",
    "validation.jobs": "count",
    "metrics.wall_s": "s",
    "metrics.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.peak_rss_mb": "MB",
    "crawl.increment_s": "s",
    "crawl.replay_s": "s",
    "crawl.publish_s": "s",
    "trace.pass_s": "s",
    "trace.span_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
    "trace.bench_s": "s",
    "trace.gap_s": "s",
}


def _count_input(tracer: T.Tracer, span: T.Span, df) -> None:
    with tracer.region("bench.count"):
        span.extra["rows_staged"] = df.count()


def _sink_wrapper(tracer: T.Tracer, cls, attr: str, name: str, force=False, stage_input=False):
    """Sink methods: record bytes written under the table root, rows
    staged (counted in a ``bench.count`` child span) and rows added."""

    def pre(span, args, kwargs):
        span.extra["since"] = time.time()
        if stage_input:
            _count_input(tracer, span, args[1])

    def post(span, args, kwargs, result):
        span.extra["write_mb"] = T.written_mb(args[0].root, span.extra.pop("since"))
        if isinstance(result, dict):
            span.extra["rows_added"] = result.get("rows_added", 0)
            span.extra["compacted"] = bool(result.get("compacted_snapshots"))

    tracer.wrap(cls, attr, name, force=force, pre=pre, on_result=post)


def install(tracer: T.Tracer) -> None:
    """Wrap every layer's public entry point for the traced passes."""
    tracer.wrap(full_build_job, "read_obo_terms", "readers.read_obo_terms", force=True)
    tracer.wrap(pipeline, "extract_pages", "extraction.extract_pages", force=True)
    tracer.wrap(pipeline, "resolve_obsolete", "linking.resolve_obsolete", force=True)
    tracer.wrap(pipeline, "scan_mentions_token_join", "mentions.scan_mentions_token_join", force=True)
    tracer.wrap(pipeline, "scan_mentions_linked", "mentions.scan_mentions_linked", force=True)
    tracer.wrap(pipeline, "link_mentions", "linking.link_mentions", force=True)
    tracer.wrap(pipeline, "cooccurrence_edges", "cooccurrence.cooccurrence_edges", force=True)
    # the job imported build_kg by name; increments call the module's own
    for module in (pipeline, full_build_job):
        tracer.wrap(module, "build_kg", "pipeline.build_kg")
    tracer.wrap(full_build_job, "collect_all_metrics", "metrics.collect_all_metrics")
    for fn in ("validate_non_empty", "validate_referential_integrity"):
        tracer.wrap(validation, fn, f"validation.{fn}")
    _sink_wrapper(tracer, SnapshotTable, "merge_append", "sink.merge_append", stage_input=True)
    _sink_wrapper(tracer, SnapshotTable, "compact", "sink.compact")
    _sink_wrapper(tracer, AggregatingSnapshotTable, "delta_append", "sink.delta_append", stage_input=True)
    _sink_wrapper(tracer, AggregatingSnapshotTable, "compact", "sink.compact")
    _sink_wrapper(tracer, AggregatingSnapshotTable, "read_merged", "sink.read_merged", force=True)


def _pass_metrics(spans: list[T.Span], selfs: dict[int, float], root: T.Span) -> dict:
    """One traced pass: sum each layer's self time, counters and stage
    metrics over the spans under ``root``."""
    by_layer: dict[str, list[T.Span]] = {}
    for s in spans:
        by_layer.setdefault(s.name.split(".")[0], []).append(s)

    def self_s(layer, name=None):
        return sum(selfs[s.sid] for s in by_layer.get(layer, []) if name is None or s.name == name)

    def stage(layer, key):
        return sum(s.stage.get(key, 0.0) for s in by_layer.get(layer, []))

    def rows(layer, name=None):
        return sum(s.rows_out or 0 for s in by_layer.get(layer, []) if name is None or s.name == name)

    def extra(key):
        return sum(s.extra.get(key, 0) for s in by_layer.get("sink", []))

    # a nested sink call (compact inside an append) wrote files its caller's
    # walk sees too: count bytes on the outermost sink span only
    sink_sids = {s.sid for s in by_layer.get("sink", [])}
    written = sum(
        s.extra.get("write_mb", 0.0) for s in by_layer.get("sink", []) if s.parent not in sink_sids
    )
    # a compaction reads the merged table itself: that read is compaction
    # work, and only a top-level read_merged is a publish read
    compaction_read = sum(
        selfs[s.sid]
        for s in by_layer.get("sink", [])
        if s.name == "sink.read_merged" and s.parent in sink_sids
    )

    def py_cpu(layer):
        return sum(s.python_cpu_s for s in by_layer.get(layer, []))

    staged, added = extra("rows_staged"), extra("rows_added")
    m = {
        "readers.obo_parse_s": self_s("readers"),
        "readers.terms": rows("readers"),
        "extraction.wall_s": self_s("extraction"),
        "extraction.rows_out": rows("extraction"),
        "extraction.python_cpu_s": py_cpu("extraction"),
        "mentions.wall_s": self_s("mentions"),
        "mentions.rows_out": rows("mentions"),
        "mentions.python_cpu_s": py_cpu("mentions"),
        "mentions.task_cpu_s": stage("mentions", "task_cpu_s"),
        "mentions.shuffle_mb": stage("mentions", "shuffle_mb"),
        "linking.wall_s": self_s("linking"),
        "linking.rows_out": rows("linking", "linking.link_mentions"),
        "pipeline.driver_s": self_s("pipeline"),
        "pipeline.jobs": stage("pipeline", "jobs"),
        "cooccurrence.wall_s": self_s("cooccurrence"),
        "cooccurrence.task_cpu_s": stage("cooccurrence", "task_cpu_s"),
        "cooccurrence.shuffle_mb": stage("cooccurrence", "shuffle_mb"),
        "cooccurrence.spill_mb": stage("cooccurrence", "spill_mb"),
        "cooccurrence.jobs": stage("cooccurrence", "jobs"),
        "cooccurrence.rows_out": rows("cooccurrence"),
        "sink.merge_s": self_s("sink", "sink.merge_append"),
        "sink.rows_staged": staged,
        "sink.rows_added": added,
        "sink.added_ratio": added / staged if staged else 0.0,
        "sink.write_mb": written,
        "sink.delta_s": self_s("sink", "sink.delta_append"),
        "sink.compact_s": self_s("sink", "sink.compact") + compaction_read,
        "sink.compactions": sum(1 for s in by_layer.get("sink", []) if s.extra.get("compacted")),
        "sink.read_merged_s": self_s("sink", "sink.read_merged") - compaction_read,
        "sink.jobs": stage("sink", "jobs"),
        "validation.wall_s": self_s("validation"),
        "validation.jobs": stage("validation", "jobs"),
        "metrics.wall_s": self_s("metrics"),
        "metrics.jobs": stage("metrics", "jobs"),
        "crawl.replay_s": self_s("crawl"),
        "trace.bench_s": self_s("bench") - selfs[root.sid],
        "trace.gap_s": selfs[root.sid],
        "trace.span_s": root.wall_s,
    }
    for key, value in T.stage_totals(spans).items():
        m[f"spark.{key}"] = value
    for s in by_layer.get("query", []):
        m[f"{s.name}.wall_s"] = selfs[s.sid]
        if s.name.split(".", 1)[1] in OUTLIERS:
            m[f"{s.name}.jobs"] = s.stage.get("jobs", 0.0)
            m[f"{s.name}.shuffle_mb"] = s.stage.get("shuffle_mb", 0.0)
    return m


def _subtree(spans: list[T.Span], root_sid: int) -> list[T.Span]:
    inside = {root_sid}
    out = []
    for s in spans:  # spans are recorded in open order: parents first
        if s.sid in inside or s.parent in inside:
            inside.add(s.sid)
            out.append(s)
    return out


def _unit(name: str) -> str:
    return "count" if name.endswith(".jobs") else "MB" if name.endswith("_mb") else "s"


def layer_metrics(
    tracer: T.Tracer, wl, traced: dict | None, untraced: dict | None,
    session_s: float, peak_rss_mb: float,
) -> dict:
    """Every per-layer metric of the traced pass (``METRICS``, plus the
    query suite's ``query.<name>.*``); layers a workload never reaches
    read 0, and all of them read 0 if the traced pass failed."""
    m: dict[str, float] = {}
    if traced is not None:
        selfs = T.self_times(tracer.spans)
        root = next(s for s in tracer.spans if s.sid == traced["root_sid"])
        m = _pass_metrics(_subtree(tracer.spans, root.sid), selfs, root)
        base = wl.pair_base(traced)
        m["cooccurrence.pair_base"] = base
        m["cooccurrence.pair_yield"] = m.pop("cooccurrence.rows_out") / base if base else 0.0
        if "increment_s" in traced:
            m["crawl.increment_s"] = traced["increment_s"]
            m["crawl.publish_s"] = traced["publish_s"]
        m["trace.pass_s"] = traced["wall_s"]
    m["session.start_s"] = session_s
    m["spark.peak_rss_mb"] = peak_rss_mb
    m["trace.untraced_pass_s"] = untraced["wall_s"] if untraced else 0.0
    m["trace.overhead_s"] = m.get("trace.pass_s", 0.0) - m["trace.untraced_pass_s"]
    units = {**METRICS, **{k: _unit(k) for k in m if k.startswith("query.")}}
    return {k: {"value": float(m.get(k, 0.0)), "unit": unit} for k, unit in units.items()}


def report(metrics: dict) -> str:
    """Human-readable reconciliation of one traced pass."""
    v = {k: m["value"] for k, m in metrics.items()}
    v["query.*.wall_s"] = sum(
        x for k, x in v.items() if k.startswith("query.") and k.endswith(".wall_s")
    )
    layers = [
        ("readers", "readers.obo_parse_s"),
        ("extraction", "extraction.wall_s"),
        ("mentions", "mentions.wall_s"),
        ("linking", "linking.wall_s"),
        ("pipeline (build_kg driver work)", "pipeline.driver_s"),
        ("cooccurrence", "cooccurrence.wall_s"),
        ("sink merge", "sink.merge_s"),
        ("sink delta", "sink.delta_s"),
        ("sink compact", "sink.compact_s"),
        ("sink read_merged", "sink.read_merged_s"),
        ("validation", "validation.wall_s"),
        ("metrics", "metrics.wall_s"),
        ("queries (registry, noop sink)", "query.*.wall_s"),
        ("crawl replay (run untraced, one span)", "crawl.replay_s"),
        ("benchmark counting and output digest", "trace.bench_s"),
        ("gap: job glue outside every layer (table reads, lineage, JSON)", "trace.gap_s"),
    ]
    lines = [
        f"traced pass {v['trace.pass_s']:.2f}s; its span, with the benchmark's "
        f"checks, {v['trace.span_s']:.2f}s = self time of:"
    ]
    lines += [f"  {label:66s} {v[key]:8.3f}s" for label, key in layers]
    total = sum(v[key] for _, key in layers)
    lines.append(f"  {'sum':66s} {total:8.3f}s")
    lines.append(
        f"untraced pass {v['trace.untraced_pass_s']:.2f}s; "
        f"tracing overhead {v['trace.overhead_s']:+.2f}s"
    )
    return "\n".join(lines)
