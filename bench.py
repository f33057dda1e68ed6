"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full materialization of
every output column — a bare count() would let Catalyst prune the very
columns under test). Extra keys report the KG-pipeline throughput
(triples/sec) on a generated pages corpus; scaling evidence (N vs 4N
cores) comes from tools/bench_scaling.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biomedical_knowledge_graph_spark.queries import REGISTRY  # noqa: E402
from biomedical_knowledge_graph_spark.session import get_spark  # noqa: E402

# dedup_ngram_jaccard is deliberately NOT headline: exact all-pairs shingle
# intersection is verification-grade (O(sum postings^2)); its scale path is
# dedup_minhash_lsh, which computes the same >=0.8-Jaccard pairs via banded
# signatures (365 s vs 24 s at sf0.1 on this box).
HEADLINE = [
    "kg_links",
    "kg_triples",
    "kg_connected_components",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_lang_id",
    "ann_cosine_topk",
    "pricing_summary",
    "customer_order_degree",
    "segment_brand_overlap",
    "doc_quality",
    "lineitem_measures_unpivot",
    # round 2 scale-path additions
    "embedding_near_pairs_lsh",
    "ann_ivf_topk",
    "customer_evidence_matrix",
    "cluster_hierarchy_flags",
    "asof_last_purchase_before_error",
    # round 3 additions
    "ann_ivf_sampled_topk",
    "kg_golden_metrics",
    # round 5 additions: weighted fixed-point PageRank over the KG edge
    # graph (5 iterations, localCheckpoint per iteration), fixed-point
    # BM25 retrieval, and deterministic split + exact stratified sample
    "kg_pagerank",
    "doc_bm25_topk",
    "doc_split_sample",
    # round 5 webtext-hygiene additions: Gopher-style repetition filter
    # and train/test fingerprint decontamination
    "doc_repetition_filter",
    "split_contamination",
    "doc_pack_sequences",
    "doc_pii_scrub",
    "doc_weighted_sample",
    # round 6 webtext additions: C4 corpus-level boilerplate removal
    # (two-shuffle window-count plan), C4 per-line heuristics and URL
    # canonicalization (both zero-shuffle projections)
    "doc_remove_repeated_lines",
    "doc_c4_line_filter",
    "doc_url_normalize",
    # hashed-linear quality classifier (fastText-style), one zero-shuffle
    # projection
    "doc_quality_classifier",
    # incremental MinHash dedup: batch vs prebuilt corpus index
    "dedup_minhash_incremental",
    # corpus bigram-LM perplexity scoring (CCNet-style quality signal)
    "doc_lm_perplexity",
    # triangle counting + clustering coefficients over the KG edge graph
    "kg_triangles",
    # exact-substring dedup at token-window granularity
    "doc_remove_repeated_windows",
    # surface-pattern typed relation extraction (regexp groups, zero Python)
    "kg_typed_relations",
    # per-language corpus report card (one fused scan + one aggregate)
    "corpus_quality_report",
    # real PPM/PGM/BMP pixel decode through the Arrow batch path
    "multimodal_pixel_stats",
    # real PCM WAV decode through the Arrow batch path
    "multimodal_audio_stats",
    # unicode NFC + control/space normalization (one Arrow pass)
    "doc_normalize_text",
    # AVI/MP4 container-header metadata parse
    "multimodal_video_meta",
    # round 7 additions: RefinedWeb-style per-domain cap (bounded
    # tree-merge top-k), token-budget corpus assembly (range-partitioned
    # global cumsum), ontology ancestor closure (iterative doubling),
    # deterministic KG-embedding negative sampling (zero-shuffle) and
    # overlapping context-window chunking (zero-shuffle)
    "doc_domain_topk",
    "doc_budget_select",
    "kg_ancestor_closure",
    "kg_triple_negatives",
    "doc_chunk_windows",
]


def force(df) -> None:
    """Materialize every output column (noop sink; no driver collect)."""
    df.write.mode("overwrite").format("noop").save()


def _assert_headline_scalable() -> None:
    bad = [n for n in HEADLINE if REGISTRY[n].verification_only]
    assert not bad, f"verification-only queries must not be benchmarked: {bad}"


def main() -> None:
    _assert_headline_scalable()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="bkg-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 4,
        extra_conf={"spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m"},
    )

    # warm the JVM + every Python worker once so per-query numbers measure
    # the plan, not first-call initialization
    def _noop(batches):
        yield from batches

    spark.range(int(cpus) * 4).repartition(int(cpus) * 2).mapInPandas(
        _noop, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    force(REGISTRY["pricing_summary"].fn(spark, sf_dir))

    # min-of-N per query: the host is shared and identical jobs vary 5-10x
    # run to run, so n=1 numbers are noise, not signal (reps interleaved so
    # one transient host stall cannot inflate every rep of one query)
    # 3 reps: this host's noise is bimodal and one quiet rep per query is
    # the signal — two reps measurably under-sample it (r5: kg_cc read
    # 4.96 s at 2 reps vs 3.21 s min-of-4 in a dedicated session)
    reps = int(os.environ.get("BKG_BENCH_REPS", "3"))
    timings = {name: float("inf") for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            t0 = time.time()
            force(REGISTRY[name].fn(spark, sf_dir))
            timings[name] = min(timings[name], round(time.time() - t0, 3))

    # KG-pipeline throughput: pages -> triples end-to-end on a generated
    # corpus (the north-rule metric)
    from biomedical_knowledge_graph_spark import fixtures
    from biomedical_knowledge_graph_spark.plans.pipeline import build_kg

    n_pages = int(os.environ.get("BKG_BENCH_PAGES", "20000"))
    aliases = [a for a, _, _ in fixtures.synthetic_alias_specs(5000, seed=42)]
    pages = fixtures.generate_pages_distributed(
        spark, n_pages, aliases, seed=42, partitions=int(cpus) * 4
    ).cache()
    pages.count()
    dim = fixtures.synthetic_entity_dict_df(spark, 5000, seed=42)
    pipe_walls = []
    n_triples = n_links = 0
    # min-of-3: the host is shared and BIMODAL (same run measured 15s and
    # 99s an hour apart) — a third rep materially improves the odds that
    # one rep lands in a quiet window
    for _ in range(3):
        t0 = time.time()
        result = build_kg(spark, pages, dim, min_cooccur=3)
        n_triples = result.triples.count()
        n_links = result.links.count()
        pipe_walls.append(time.time() - t0)
        result.links.unpersist()
    pipe_wall = min(pipe_walls)
    pages.unpersist()

    sf = sf_dir.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    pipeline_block = {
        "pages": n_pages,
        "links": n_links,
        "triples": n_triples,
        "wall_s": round(pipe_wall, 3),
        "triples_per_sec": round(n_triples / pipe_wall, 1),
        "pages_per_sec": round(n_pages / pipe_wall, 1),
    }
    deltas = _deltas_vs_previous_round(timings, sf_val, pipeline_block, cpus)
    # persist the FULL record locally before printing anything: the
    # driver's BENCH_r*.json tail-captures a bounded window, and a clipped
    # round must never cost a future baseline (VERDICT r4 item 3)
    _append_local_record(
        {
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "sf": sf_val,
            "cpus": cpus,
            "queries": timings,
            "pipeline": pipeline_block,
        }
    )
    # the full per-query delta detail goes on its OWN line, printed BEFORE
    # the contract line: the driver tail-captures a bounded window and
    # parses the final line, and r3's inline deltas pushed that line past
    # the window (BENCH_r03.json parsed: null). The final line keeps only
    # a compact regressions summary.
    if deltas is not None:
        print(json.dumps({"bench_deltas": deltas}))
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "pipeline": pipeline_block,
    }
    if deltas is not None:
        out["regressions"] = {
            "vs": deltas["baseline_file"],
            "names": deltas["regressions"],
            "unrecoverable": deltas["unrecoverable"],
        }
    print(json.dumps(out))


_HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_LOCAL = os.path.join(_HERE, "BENCH_LOCAL.jsonl")


def _parse_round_file(path: str) -> dict | None:
    """One driver BENCH_r*.json → {sf, cpus, queries, pipeline, source}
    (the driver wraps the bench line under "parsed"; a round whose line
    did not parse carries no baseline)."""
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None
    if not isinstance(prev.get("parsed"), dict):
        return None
    parsed = prev["parsed"]
    return {
        "sf": parsed.get("sf"),
        # the driver wrapper carries the core count at the top level
        "cpus": parsed.get("cpus", prev.get("cpus")),
        "queries": parsed.get("queries") or {},
        "pipeline": parsed.get("pipeline"),
        "source": os.path.basename(path),
    }


def _cpus_match(rec: dict, cpus) -> bool:
    """A wall measured at a different core count is not a baseline (an
    8-core run judged against a 32-core record flags phantom 2-4x
    regressions, and vice versa masks real ones). Records that don't say
    (legacy lines) are kept — better a noisy baseline than none."""
    rc = rec.get("cpus")
    return rc is None or cpus is None or str(rc) == str(cpus)


def _baseline_records(sf_val, cpus=None) -> list[dict]:
    """Candidate baseline records, NEWEST FIRST, from two sources:
    1. BENCH_LOCAL.jsonl — the builder's own per-run full records
       (VERDICT r4 item 3: written locally every run, so deltas never
       depend on the driver's bounded tail-capture window);
    2. the driver's BENCH_r*.json files (numeric round order).
    Filtered to the same sf AND core count; baselines then resolve
    per-query as the BEST wall across all records, so one partial source
    can never drop a baseline and a regressed run can never become its
    own exculpatory baseline."""
    import glob
    import re

    recs: list[dict] = []
    try:
        with open(BENCH_LOCAL) as f:
            lines = f.read().splitlines()
    except OSError:
        lines = []
    for line in reversed(lines):
        try:
            r = json.loads(line)
        except json.JSONDecodeError:
            continue
        if (
            r.get("sf") == sf_val
            and isinstance(r.get("queries"), dict)
            and _cpus_match(r, cpus)
        ):
            r.setdefault("source", "BENCH_LOCAL.jsonl")
            recs.append(r)

    def _round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    for path in sorted(
        glob.glob(os.path.join(_HERE, "BENCH_r*.json")),
        key=_round_no,
        reverse=True,
    ):
        r = _parse_round_file(path)
        if r is not None and r["sf"] == sf_val and _cpus_match(r, cpus):
            recs.append(r)
    return recs


def _append_local_record(record: dict) -> None:
    """Persist this run's full result to BENCH_LOCAL.jsonl (best-effort —
    a read-only checkout must not break the bench)."""
    try:
        with open(BENCH_LOCAL, "a") as f:
            f.write(json.dumps(record) + "\n")
    except OSError:
        pass


def _deltas_vs_previous_round(
    timings: dict[str, float], sf_val, pipeline: dict | None = None, cpus=None
) -> dict | None:
    """Round-over-round deltas (VERDICT r2 item 10, hardened r5): compare
    this run's minima against a MERGED baseline — the BEST wall per query
    across BENCH_LOCAL.jsonl + all BENCH_r*.json at the same sf and core
    count — and flag >1.5x NOISE-ADJUSTED walls as regressed (each ratio
    is normalized by the run's median ratio before flagging; see the
    inline comment — this shared host drifts uniformly 1.2-1.5x between
    windows, and a uniform shift is noise while a single-query spike is
    code). Best-not-newest matters:
    a regressed run appends itself to BENCH_LOCAL.jsonl, so a
    newest-record baseline would flag each regression exactly once and
    then adopt it (the r4 kg_cc masking, reborn); against the best-known
    wall it stays flagged until actually fixed. The pipeline block gets
    the same guard on wall/throughput (VERDICT r4 item 4 — r4's 22%
    pipeline drop sailed through a queries-only guard). Queries with no
    recoverable baseline anywhere are listed under "unrecoverable"
    instead of silently skipped."""
    recs = _baseline_records(sf_val, cpus)
    if not recs:
        return None
    per_query = {}
    unrecoverable = []
    for name, t in timings.items():
        cands = [
            (r["queries"][name], r["source"])
            for r in recs
            if name in r["queries"]
        ]
        if not cands:
            unrecoverable.append(name)
            continue
        p, src_name = min(cands)
        per_query[name] = {
            "prev_s": p,
            "ratio": round(t / p, 2),
            "vs": src_name,
        }
    # Noise adjustment (round-5 late hardening): this shared host drifts
    # 1.2-1.5x window-to-window UNIFORMLY across all queries (observed:
    # a run where all 19 headline ratios sat at 1.2-1.45 vs best-known —
    # pure host noise — pushed one query over a raw 1.5x flag). A code
    # regression in ONE query moves its ratio alone; host noise shifts
    # the whole run's median. So flag on the ratio normalized by the
    # run's median, keeping the raw ratio in the output. The median is
    # CLAMPED to [1.0, 1.5]: 1.5 is the documented host-drift ceiling,
    # so a uniform shift beyond it cannot be written off as noise — a
    # shared-code regression (scanner, session config) hits most
    # queries at once and would otherwise self-normalize away. A
    # uniform regression between 1.5x and 2.25x still slips the
    # per-query flags (ratios alone cannot distinguish it from noise in
    # a single window), so any raw median > 1.5 additionally sets
    # window_suspect in the output — a persistent signal that the run
    # is either in a pathological window or uniformly regressed.
    ratios = sorted(d["ratio"] for d in per_query.values())
    if len(ratios) >= 3:
        mid = len(ratios) // 2
        raw_med = (
            ratios[mid]
            if len(ratios) % 2
            else (ratios[mid - 1] + ratios[mid]) / 2
        )
    else:
        raw_med = 1.0
    med = min(max(raw_med, 1.0), 1.5)
    for d in per_query.values():
        d["adj_ratio"] = round(d["ratio"] / med, 2)
        d["regressed"] = d["adj_ratio"] > 1.5
    regressions = sorted(n for n, d in per_query.items() if d["regressed"])
    pipe_delta = None
    if pipeline is not None:
        pipe_cands = [
            (r["pipeline"]["triples_per_sec"], r)
            for r in recs
            if isinstance(r.get("pipeline"), dict)
            and r["pipeline"].get("pages") == pipeline.get("pages")
            and r["pipeline"].get("triples_per_sec")
        ]
        src = (
            max(pipe_cands, key=lambda c: c[0])[1] if pipe_cands else None
        )
        if src is not None:
            prev_tps = src["pipeline"]["triples_per_sec"]
            cur_tps = pipeline["triples_per_sec"]
            tput_ratio = round(cur_tps / prev_tps, 3)
            # same noise adjustment (throughput is inverse of wall):
            # multiply by the run's median wall ratio
            adj_tput = round(tput_ratio * med, 3)
            pipe_delta = {
                "prev_triples_per_sec": prev_tps,
                "throughput_ratio": tput_ratio,
                "adj_throughput_ratio": adj_tput,
                "regressed": adj_tput * 1.5 < 1.0,
                "vs": src["source"],
            }
            if pipe_delta["regressed"]:
                regressions.append("pipeline")
        else:
            unrecoverable.append("pipeline")
    return {
        "baseline_file": "merged:" + ",".join(
            sorted({d["vs"] for d in per_query.values()})
        ),
        "run_median_ratio": round(raw_med, 2),
        "window_suspect": raw_med > 1.5,
        "queries": per_query,
        "pipeline": pipe_delta,
        "unrecoverable": sorted(unrecoverable),
        "regressions": regressions,
    }


if __name__ == "__main__":
    main()
