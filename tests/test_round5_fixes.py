"""Round-5 items: bench baseline-loss immunity (VERDICT r4 item 3), the
pipeline regression guard (item 4), and the BENCH_LOCAL.jsonl record."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
import bench  # noqa: E402


def _fake_round(path, sf, queries, pipeline=None):
    parsed = {"sf": sf, "queries": queries}
    if pipeline:
        parsed["pipeline"] = pipeline
    with open(path, "w") as f:
        json.dump({"parsed": parsed}, f)


def test_baseline_merges_across_clipped_rounds(tmp_path, monkeypatch):
    """A query missing from the NEWEST round's (partial) record must fall
    back to the newest older source instead of silently losing its
    baseline — the exact failure that masked r4's kg_cc regression."""
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "BENCH_LOCAL", str(tmp_path / "BENCH_LOCAL.jsonl"))
    pipe = {"pages": 20000, "triples_per_sec": 100_000.0}
    _fake_round(
        tmp_path / "BENCH_r01.json",
        0.1,
        {"q_a": 2.0, "q_b": 4.0},
        pipeline=pipe,
    )
    # newest round is partial: it carries no q_a wall
    _fake_round(tmp_path / "BENCH_r02.json", 0.1, {"q_b": 3.0})

    d = bench._deltas_vs_previous_round(
        {"q_a": 2.1, "q_b": 9.0, "q_new": 1.0},
        0.1,
        {"pages": 20000, "triples_per_sec": 50_000.0},
    )
    # q_b resolves against the NEWEST source carrying it (r02), q_a falls
    # back to r01 — no baseline lost, and the 3x q_b slowdown is flagged
    assert d["queries"]["q_b"]["vs"] == "BENCH_r02.json"
    assert d["queries"]["q_a"]["vs"] == "BENCH_r01.json"
    assert d["queries"]["q_a"]["regressed"] is False
    assert "q_b" in d["regressions"]
    # never-benched query is surfaced, not silently skipped
    assert "q_new" in d["unrecoverable"]
    # pipeline guard (item 4): 2x throughput drop >= 1.5x flag threshold
    assert d["pipeline"]["regressed"] is True
    assert "pipeline" in d["regressions"]
    assert d["pipeline"]["vs"] == "BENCH_r01.json"


def test_local_history_outranks_round_files(tmp_path, monkeypatch):
    """Baselines resolve to the BEST wall across BENCH_LOCAL.jsonl and
    the driver's round files (here the local record holds it), and
    numeric round order beats lexicographic in the merged source list."""
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    local = tmp_path / "BENCH_LOCAL.jsonl"
    monkeypatch.setattr(bench, "BENCH_LOCAL", str(local))
    _fake_round(tmp_path / "BENCH_r02.json", 0.1, {"q": 8.0})
    _fake_round(tmp_path / "BENCH_r10.json", 0.1, {"q": 5.0})
    d = bench._deltas_vs_previous_round({"q": 5.0}, 0.1)
    assert d["queries"]["q"]["vs"] == "BENCH_r10.json"  # numeric, not lexi

    # now a local record exists -> it outranks every round file
    with open(local, "w") as f:
        f.write(json.dumps({"sf": 0.1, "queries": {"q": 4.0}}) + "\n")
        f.write(json.dumps({"sf": 0.01, "queries": {"q": 0.4}}) + "\n")
    d2 = bench._deltas_vs_previous_round({"q": 5.0}, 0.1)
    assert d2["queries"]["q"]["vs"] == "BENCH_LOCAL.jsonl"
    assert d2["queries"]["q"]["prev_s"] == 4.0  # sf-matched line only

    # cross-SF records never mix
    d3 = bench._deltas_vs_previous_round({"q": 0.5}, 0.01)
    assert d3["queries"]["q"]["prev_s"] == 0.4


def test_append_local_record_roundtrip(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "BENCH_LOCAL", str(tmp_path / "hist.jsonl"))
    rec = {
        "ts": "2026-08-17T00:00:00",
        "sf": 0.1,
        "queries": {"q": 1.0},
        "pipeline": {"pages": 20000, "triples_per_sec": 1.0},
    }
    bench._append_local_record(rec)
    bench._append_local_record(rec)
    lines = open(tmp_path / "hist.jsonl").read().splitlines()
    assert len(lines) == 2 and json.loads(lines[0]) == rec


def test_best_wall_baseline_and_noise_adjustment(tmp_path, monkeypatch):
    """Round-5 late hardening: (1) a regressed run that lands in the
    local history must NOT become its own exculpatory baseline — the
    best-known wall keeps flagging until fixed; (2) a uniform host-noise
    shift (every query ~1.3x) must not flag, while a single-query spike
    in the same window must; (3) cross-core-count records are excluded."""
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    local = tmp_path / "BENCH_LOCAL.jsonl"
    monkeypatch.setattr(bench, "BENCH_LOCAL", str(local))

    qs = {f"q{i}": 1.0 for i in range(9)}
    with open(local, "w") as f:
        # the good run, then a globally-regressed later run: best wall
        # must come from the good one
        f.write(json.dumps({"sf": 0.1, "cpus": "32", "queries": qs}) + "\n")
        f.write(
            json.dumps(
                {
                    "sf": 0.1,
                    "cpus": "32",
                    "queries": {k: 3.0 for k in qs},
                }
            )
            + "\n"
        )
        # a 4-core record with tiny walls must NOT pollute 32-core deltas
        f.write(
            json.dumps(
                {"sf": 0.1, "cpus": "4", "queries": {k: 0.01 for k in qs}}
            )
            + "\n"
        )

    # uniform 1.3x window: nothing flags, median reported
    uniform = {k: 1.3 for k in qs}
    d = bench._deltas_vs_previous_round(uniform, 0.1, None, "32")
    assert d["run_median_ratio"] == 1.3
    assert d["regressions"] == []
    assert all(v["prev_s"] == 1.0 for v in d["queries"].values())

    # same window + one genuine 3x spike: exactly that query flags
    spiked = dict(uniform, q0=3.9)
    d2 = bench._deltas_vs_previous_round(spiked, 0.1, None, "32")
    assert d2["regressions"] == ["q0"]
    assert d2["queries"]["q0"]["ratio"] == 3.9
    assert d2["queries"]["q0"]["adj_ratio"] > 1.5

    # a FAST window must not inflate adj ratios (median clamped to >= 1)
    fast = {k: 0.5 for k in qs}
    d3 = bench._deltas_vs_previous_round(dict(fast, q0=1.2), 0.1, None, "32")
    assert d3["regressions"] == []

    # a uniform 2x shift exceeds the documented 1.5x host-drift ceiling:
    # the median used for normalization is clamped at 1.5 so every query
    # flags (a shared-code regression must not self-normalize away), and
    # window_suspect marks the run
    shifted = {k: 2.5 for k in qs}
    d4 = bench._deltas_vs_previous_round(shifted, 0.1, None, "32")
    assert d4["run_median_ratio"] == 2.5
    assert d4["window_suspect"] is True
    assert sorted(d4["regressions"]) == sorted(qs)
    # ... while the uniform-1.3x window reports suspect=False
    assert d["window_suspect"] is False
