"""SparkSession factory tuned for the KG-construction workload.

Settings rationale (scale-first, per SURVEY.md §4):
- AQE on (+ skew-join splitting + partition coalescing): runtime re-planning
  replaces the reference's hand-tuned batch sizes
  (reference: kg_scripts/config/neo4j_config.py:22-26).
- AQE also sizes persisted plans. Spark plans a cached frame with its
  final-stage rules off (``canChangeCachedPlanOutputPartitioning`` defaults
  to false, so readers can rely on the cache's partitioning); a cached
  frame that ends in a shuffle then keeps every ``shuffle.partitions``
  however small it is, and every reader of the cache (the sink's staged
  merge batch: its fill, bucket probe and write) runs one task per
  partition. Readers that need a cached frame's partitioning pin it with
  an explicit count (``repartition(n, col)``), which AQE never coalesces.
- Arrow on: every Python-side kernel (extraction, mention scan) crosses the
  JVM boundary in columnar batches, never per row.
- UTC session timezone: DuckDB-oracle parity (duckdb timestamps are
  UTC-naive).
- shuffle partitions: a fixed ``DEFAULT_SHUFFLE_PARTITIONS`` (32) on every
  master unless the caller passes ``shuffle_partitions``; AQE's coalescing
  shrinks small stages below it at run time.
- JIT pool: one cold ``full_build_job`` pass at local[4] (JVM start
  included) spent ~35 of ~62 CPU-s in HotSpot's compiler threads (C1 5.8 s,
  C2 20.0 s, and 9.4 s in compiler threads HotSpot started and retired),
  against 7.5 s in executor task threads; almost all of its ~6 500
  compiles are Spark, Scala and JDK internals. On a local master with at
  most 4 task threads the driver JVM gets ``-XX:CICompilerCount=2``
  (HotSpot's own choice is 3 at 4-7 cores and 2 below 4), through
  ``spark.driver.defaultJavaOptions`` so that a caller's
  ``extraJavaOptions`` does not replace it: ~28 CPU-s of compiles, and a
  pass's CPU drops ~19 % with the same plans.
- Python workers: the same pass spent ~3 CPU-s in them. They stay forked
  from the stock ``pyspark.daemon``: a daemon that imported pandas, pyarrow
  and the UDF modules before forking did not lower the pass's CPU.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_memory() -> str:
    """Half of the host's ``MemTotal``, capped at 64g.

    Local mode is driver-only: the heap must hold every concurrent task's
    agg/join state (16g thrashed GC at 32 threads on wide hash aggregates,
    a measured 4x slowdown), but the JVM, the Python workers and the page
    cache share the host — a fixed 64g heap got the JVM OOM-killed on a
    15 GiB host. Without ``/proc/meminfo`` (non-Linux) the default is 4g."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    half_mb = int(line.split()[1]) // 2048
                    return f"{max(1024, min(half_mb, 64 * 1024))}m"
    except (OSError, ValueError):
        pass
    return "4g"


def _local_threads(master: str) -> int | None:
    """Task threads of a ``local[N]`` or ``local[*]`` master (``*`` is the
    affinity set), ``None`` for any other master."""
    m = re.fullmatch(r"local\[(\*|\d+)\]", master)
    if m is None:
        return None
    return len(os.sched_getaffinity(0)) if m.group(1) == "*" else int(m.group(1))


def _builder(
    app_name: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> SparkSession.Builder:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing targets max(total/defaultParallelism,
        # minPartitionSize); the 1 MB default means any post-shuffle
        # stage under cores×1 MB of data coalesces to bytes/1MB
        # partitions no matter how many cores exist — and CPU-dense
        # stages (candidate generators, verify joins) carry far more
        # work per byte than the heuristic assumes (measured: a 44
        # CPU-s stage pinned to 6 tasks on 16 cores). 64k keeps the
        # target at total/parallelism = one partition per core; at
        # cluster scale partitions are megabytes and the floor never
        # binds.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the final shuffle of a persisted plan too (see
        # the module docstring)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("BKG_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # the JIT pool (see the module docstring)
    threads = _local_threads(master)
    if threads is not None and threads <= 4:
        b = b.config("spark.driver.defaultJavaOptions", "-XX:CICompilerCount=2")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def get_spark(
    app_name: str = "bkg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create a session (reuses an existing one if compatible)."""
    spark = _builder(app_name, master, shuffle_partitions, extra_conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def new_session(
    app_name: str = "bkg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Stop any active session and build a fresh one (for scaling benches
    that need a different ``master``).

    JVM options are fixed when the gateway JVM first launches: the new
    session runs in the same JVM, so it keeps that JVM's heap and JIT
    compiler pool whatever its ``master``. ``tools/bench_scaling.py`` is
    unaffected: it starts one subprocess, and so one JVM, per core count."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(app_name, master, shuffle_partitions, extra_conf)
