"""The strong-scaling harness (``tools/bench_scaling.py``) without its
subprocesses: the core defaults and bounds, the identity gate, and every
op's body and identity aggregate on tiny inputs in the shared session."""

from __future__ import annotations

import json
import os

import pytest

from tools import bench_scaling as B


def _forbid(*_a, **_k):
    raise AssertionError("a process or Spark session was started")


def test_default_cores_follow_the_affinity_set(monkeypatch):
    n = len(os.sched_getaffinity(0))
    assert B.default_cores() == (max(1, n // 4), n)
    for cpus, pair in (
        ({0}, (1, 1)),
        (set(range(4)), (1, 4)),
        (set(range(8, 24)), (4, 16)),
    ):
        monkeypatch.setattr(B.os, "sched_getaffinity", lambda _pid, c=cpus: c)
        assert B.default_cores() == pair
        assert B.host_cpus() == sorted(cpus)


def test_high_above_the_affinity_set_fails_before_anything_starts(monkeypatch):
    monkeypatch.setattr(B, "new_session", _forbid)
    monkeypatch.setattr(B.subprocess, "run", _forbid)
    monkeypatch.setattr(B.mp, "Pool", _forbid)
    n = len(os.sched_getaffinity(0))
    with pytest.raises(SystemExit) as exc:
        B.main(["--high", str(n + 1)])
    assert exc.value.code != 0
    with pytest.raises(ValueError):
        B.cpu_ceiling(1, n + 1)
    with pytest.raises(SystemExit):
        B.main(["--low", "0"])


def test_identity_mismatch_exits_nonzero(tmp_path, monkeypatch, capsys):
    (tmp_path / "edges_10").mkdir()
    (tmp_path / "edges_10" / "_SUCCESS").touch()
    monkeypatch.setattr(B, "new_session", _forbid)
    monkeypatch.setattr(B, "cpu_ceiling", lambda low, high: 1.0)
    calls = []

    def fake_run(name, cores, path, master):
        calls.append((name, cores, os.path.basename(path), master))
        return {"rows_in": 10, "wall_s": 1.0, "identity": [len(calls), 0]}

    monkeypatch.setattr(B, "pinned_run", fake_run)
    argv = ["--ops", "triangles", "--edges", "10", "--reps", "2"]
    with pytest.raises(SystemExit) as exc:
        B.main([*argv, "--inputs", str(tmp_path)])
    assert "triangles" in str(exc.value.code)
    low, high = B.default_cores()
    # interleaved: low, high, low, high on the reused input
    assert calls == [("triangles", c, "edges_10", None) for c in (low, high) * 2]
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(report["ops"]["triangles"]["identity"]) == 4


def test_every_op_runs_on_tiny_inputs(spark, tmp_path):
    # the smallest sizes at which every op still outputs rows (minhash
    # needs two near-duplicate docs)
    sizes = {"pages": 40, "docs": 20, "edges": 300}
    for kind, (gen, size_arg, mult) in B.INPUTS.items():
        gen(spark, sizes[size_arg] * mult, str(tmp_path / kind))
    try:
        got = {}
        for name, op in B.OPS.items():
            df = spark.read.parquet(str(tmp_path / op.input))
            got[name] = B.evaluate(name, df, df.count())
            rows, agg = got[name]
            assert rows > 0 and agg is not None, (name, rows, agg)
        # the warm-up and timing path once, on the cheapest op
        r = B.measure(spark, "triangles", str(tmp_path / "edges"), 2)
        assert r["rows_in"] == 300 and r["wall_s"] > 0
        assert r["identity"] == got["triangles"]
    finally:
        spark.catalog.clearCache()
