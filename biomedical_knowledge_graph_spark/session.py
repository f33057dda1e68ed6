"""SparkSession factory tuned for the KG-construction workload.

Settings rationale (scale-first, per SURVEY.md §4):
- AQE on (+ skew-join splitting + partition coalescing): runtime re-planning
  replaces the reference's hand-tuned batch sizes
  (reference: kg_scripts/config/neo4j_config.py:22-26).
- Arrow on: every Python-side kernel (extraction, mention scan) crosses the
  JVM boundary in columnar batches, never per row.
- UTC session timezone: DuckDB-oracle parity (duckdb timestamps are
  UTC-naive).
- shuffle partitions sized to cores for local mode; on a real cluster this
  is left to AQE's coalescing from a higher initial value.
"""

from __future__ import annotations

import os

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


def _builder(
    app_name: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> SparkSession.Builder:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("BKG_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
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
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("BKG_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
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
    that need a different ``master``)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(app_name, master, shuffle_partitions, extra_conf)
