"""Outside-in benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload ontology_build --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process, one Spark session on
``local[<cores>]``, one client in a closed loop: a pass starts only after
the previous one finished. Set-up (input generation, session start and
the workload's untimed engine set-up) is timed as ``setup_s``; then the
run measures exactly one pass, which takes longer than ``--seconds``, so
every run covers the same work whatever the engine's speed. A traced run
makes one untraced and one traced pass (a workload measured cold first
makes one more untraced pass, to warm up). Every pass is checked against
an independent recomputation (pure Python for the build workloads, the
queries' DuckDB oracles for ``query_suite``); a wrong or failed pass
counts in ``failed`` and makes the command exit 1.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics (see ``perfbench/README.md``). The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
``--inject-fault`` runs the build engines with a wrong threshold and drops
a row of every query output, to show that the correctness gate rejects
the result. ``query_suite`` is run by hand: it is not in ``BENCHMARK.json``
(see "Run budget" in ``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"

# Input sizes per workload (fixed: only the seed varies between runs). The
# build workloads are sized to fit the whole benchmark's run budget; see
# "Run budget" in perfbench/README.md for the measured cost of larger sizes.
SIZES = {
    "ontology_build": {"n_terms": 1500, "n_pages": 300},
    # one batch for set-up, one for the pass, one more for a traced pass
    "crawl_increments": {"n_pages": 900, "n_entities": 2000, "n_batches": 3},
    "query_suite": {"n_docs": 500, "n_vectors": 500, "n_parts": 2000, "n_lineitems": 40000},
}


def _make_workload(name: str, seed: int, fault: bool):
    from perfbench import workloads as W

    cls = {
        "ontology_build": W.OntologyBuild,
        "crawl_increments": W.CrawlIncrements,
        "query_suite": W.QuerySuite,
    }[name]
    return cls(seed, **SIZES[name], fault=fault)


def _heap() -> str:
    """Driver heap from MemTotal: a quarter of the host, 1-8 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(1, kib // 4 // 2**20))}g"


def _start_session(work: Path, cores: int):
    """The session the jobs' own ``main()`` builds (``get_spark``), fitted
    to the host: explicit master and heap, scratch and temp dirs inside the
    checkout, the package importable by the Python workers."""
    from biomedical_knowledge_graph_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": _heap(),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, close the gateway JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid)[1:] if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: Path) -> tuple[dict, int, int]:
    from perfbench import trace as T

    wl = _make_workload(args.workload, args.seed, args.inject_fault)
    results: list[tuple[str, dict]] = []
    attempted = failed = 0

    def attempt(tag: str, tracer=None) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            if tracer is None:
                res = wl.run_pass(spark, tag)
            else:
                with tracer.region("bench.pass") as root:
                    res = wl.run_pass(spark, tag, tracer)
                res["root_sid"] = root.sid
        except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc()
            failed += 1
            return
        finally:
            spark.catalog.clearCache()
        results.append((tag, res))
        print(f"perfbench: {tag} {res['wall_s']:.2f}s", file=sys.stderr)

    t0 = time.perf_counter()
    wl.prepare(str(work))
    t1 = time.perf_counter()
    spark = _start_session(work, len(os.sched_getaffinity(0)))
    session_s = time.perf_counter() - t1
    jvm_pid = spark.sparkContext._gateway.proc.pid
    tracer = None
    try:
        wl.warm(spark)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: set-up {setup_s:.2f}s (session {session_s:.2f}s)", file=sys.stderr)
        if args.trace:
            from perfbench.layers import install

            # the untraced baseline the traced pass is compared with; a
            # workload measured cold first gets one more pass to warm up
            if wl.measured_cold:
                attempt("warm-up")
            attempt("untraced")
            tracer = T.Tracer(spark, jvm_pid)
            install(tracer)
            try:
                with T.RssSampler(jvm_pid) as rss:
                    attempt("traced", tracer)
            finally:
                tracer.restore()
        else:
            attempt("pass")
    finally:
        _stop_session(spark)

    wl.expect()
    good = []
    for tag, res in results:
        try:
            wl.check(res)
        except AssertionError as exc:
            print(f"perfbench: {tag}: WRONG OUTPUT: {exc}", file=sys.stderr)
            failed += 1
            continue
        good.append((tag, res))
    ok = dict(good)

    if not args.trace:
        res = ok.get("pass")
        values = {"wall_s": res["wall_s"], "cpu_s": res["cpu_s"], **wl.e2e(res)} if res else {}
        metrics = {"setup_s": _metric(setup_s, "s")}
        for name, unit in {"wall_s": "s", "cpu_s": "s", **wl.E2E}.items():
            metrics[name] = _metric(values.get(name, 0.0), unit)
    else:
        from perfbench.layers import layer_metrics, report

        metrics = layer_metrics(
            tracer, wl, ok.get("traced"), ok.get("untraced"), session_s, rss.peak_mb
        )
        print(report(metrics))
        OUT.mkdir(exist_ok=True)
        with open(OUT / f"trace-{args.workload}-seed{args.seed}.json", "w") as f:
            json.dump([vars(s) for s in tracer.spans], f)
    return metrics, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    for key in [k for k in os.environ if k.startswith("BKG_")]:
        del os.environ[key]  # measure the engine's own defaults
    try:
        import biomedical_knowledge_graph_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        metrics, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
