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
- Class-data sharing: the same cold pass loaded 9 350 classes in 3.9-4.7 s
  of class-loading time during session start and ~14 070 more in 4.8-7.0 s
  during the pass. A local master's driver JVM maps a dynamic CDS archive
  of the classes a representative build loaded (``_cds``): perfbench
  ``ontology_build`` ``setup_s`` 5.25 -> 2.60 s, ``wall_s`` -15 %,
  ``cpu_s`` -13 % (medians of 10 pairs). The archive is built once per
  user, JDK and Spark install by ``build_cds_archive``
  (``tools/build_cds_archive.py``) into
  ``~/.cache/biomedical_knowledge_graph_spark/``; without it the JVM
  starts exactly as Spark would. A JVM that dumps the archive at exit
  starts ~3 s slower, runs a cold pass ~30 % slower and takes 9-13 s to
  exit, so no session ever dumps one as a side effect. HotSpot archives
  no classpath holding a non-empty directory, and Spark's conf dir comes
  first on it, so the archive is used only when that dir holds nothing
  but ``*.template`` files; the JVM then launches with an empty
  ``SPARK_CONF_DIR``.
- Python workers: the same pass spent ~3 CPU-s in them. They stay forked
  from the stock ``pyspark.daemon``: a daemon that imported pandas, pyarrow
  and the UDF modules before forking did not lower the pass's CPU.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# the driver JVM's class-data-sharing archives (see the module docstring)
CDS_CACHE = "~/.cache/biomedical_knowledge_graph_spark"
# the first four bytes of a HotSpot dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC)
CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")


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


def _cds_paths() -> tuple[str, str] | None:
    """The class-data-sharing archive's path and the empty conf dir to
    launch its JVM with, or ``None`` where no archive can be used: a Spark
    conf dir holding more than ``*.template`` files, no ``java`` binary, or
    an ``OSError`` on the way.

    The archive is named by the ``java`` binary and Spark's ``jars/``
    listing, so a JDK or Spark upgrade needs a fresh one."""
    try:
        home = _find_spark_home()
        conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
        if os.path.isdir(conf) and not all(
            n.endswith(".template") for n in os.listdir(conf)
        ):
            return None
        jdk = os.environ.get("JAVA_HOME")  # the JDK ``spark-class`` runs
        java = shutil.which("java", path=os.path.join(jdk, "bin") if jdk else None)
        if java is None:
            return None
        java = os.path.realpath(java)
        st = os.stat(java)
        h = hashlib.sha256(f"{java} {st.st_size} {st.st_mtime_ns}\n".encode())
        for e in sorted(os.scandir(os.path.join(home, "jars")), key=lambda e: e.name):
            st = e.stat()
            h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    cache = os.path.expanduser(CDS_CACHE)
    archive = os.path.join(cache, f"spark-{h.hexdigest()[:16]}.jsa")
    if re.search(r"[\s\"'\\]", archive):
        return None  # Spark's launcher would split or unquote the option
    return archive, os.path.join(cache, "conf")


def _cds(master: str) -> tuple[str, str] | None:
    """The driver JVM's ``-XX:SharedArchiveFile`` option and the empty conf
    dir to launch it with, or ``None`` to launch it as Spark would: not a
    local master, no usable archive (``_cds_paths``), none built yet, or a
    conf dir that is not empty.

    A file whose header is not a dynamic archive's (an interrupted copy;
    HotSpot would skip it without a word) is deleted."""
    if _local_threads(master) is None:
        return None
    paths = _cds_paths()
    if paths is None:
        return None
    archive, empty = paths
    try:
        with open(archive, "rb") as f:
            magic = f.read(4)
        if magic != CDS_MAGIC:
            os.remove(archive)
            return None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
    except OSError:
        return None
    return f"-XX:SharedArchiveFile={archive}", empty


def _builder(
    app_name: str,
    master: str,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
    cds_option: str | None = None,
) -> SparkSession.Builder:
    """The session's builder; ``cds_option`` is the driver JVM's
    class-data-sharing option, if any (see ``_cds``)."""
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
    # the JIT pool and the class-data-sharing archive (see the module
    # docstring)
    java_options = []
    threads = _local_threads(master)
    if threads is not None and threads <= 4:
        java_options.append("-XX:CICompilerCount=2")
    if cds_option is not None:
        java_options.append(cds_option)
    if java_options:
        b = b.config("spark.driver.defaultJavaOptions", " ".join(java_options))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b


def _launch(b: SparkSession.Builder, conf_dir: str | None) -> SparkSession:
    """``b.getOrCreate()``, launching a new JVM with ``SPARK_CONF_DIR`` at
    ``conf_dir``. HotSpot archives no classpath holding a non-empty
    directory, and Spark puts its conf dir first on the driver's classpath.
    The variable is swapped in the process's environment around the launch,
    so a thread that starts a subprocess meanwhile inherits it: not
    thread-safe (pyspark's launcher takes no environment of its own)."""
    if conf_dir is None or SparkContext._gateway is not None:
        return b.getOrCreate()
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return b.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(
    app_name: str = "bkg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get-or-create a session (reuses an existing one if compatible)."""
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    cds = _cds(master)
    try:
        spark = _launch(
            _builder(app_name, master, shuffle_partitions, extra_conf, cds and cds[0]),
            cds and cds[1],
        )
    except PySparkRuntimeError:
        if cds is None:
            raise
        # HotSpot validates an archive's header but dies of SIGBUS mapping
        # one cut short after it was written. Launch as Spark would: if
        # that JVM starts, the archive was at fault and goes; if it dies
        # too, the cause lies elsewhere and the archive stays.
        spark = _launch(_builder(app_name, master, shuffle_partitions, extra_conf), None)
        with contextlib.suppress(OSError):
            os.remove(cds[0].partition("=")[2])
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
    session runs in the same JVM, so it keeps that JVM's heap, JIT
    compiler pool and class-data-sharing archive (mapped or none) whatever
    its ``master``. ``tools/bench_scaling.py`` is unaffected: it starts
    one subprocess, and so one JVM, per core count."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(app_name, master, shuffle_partitions, extra_conf)


def build_cds_archive(workload: Callable[[SparkSession], object]) -> str:
    """Build the class-data-sharing archive that local-master driver JVMs
    map from then on (``_cds``) and return its path: launch a JVM that
    archives every class it loaded when it exits (``ArchiveClassesAtExit``),
    run ``workload`` in it, stop it and wait for it to exit. The archive is
    written under a temporary name and renamed once its header checks, so
    no session maps a part-written one; the cache's other archives (of
    another JDK or Spark install) are deleted. It must run in a process
    with no JVM yet; ``RuntimeError`` where no archive can be used, and
    ``OSError`` where the cache cannot be written."""
    paths = _cds_paths()
    if paths is None or SparkContext._gateway is not None:
        raise RuntimeError("no class-data-sharing archive for this process or host")
    archive, empty = paths
    os.makedirs(empty, exist_ok=True)
    if os.listdir(empty):
        raise RuntimeError(f"{empty} must be empty")
    tmp = f"{archive}.{os.getpid()}.tmp"
    # the dump warns once per class it cannot archive (~600 lines)
    option = f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds=error"
    spark = _launch(_builder("bkg-cds-archive", "local[2]", None, None, option), empty)
    try:
        try:
            workload(spark)
        finally:
            proc = SparkContext._gateway.proc
            spark.stop()
            SparkContext._gateway.shutdown()
            proc.stdin.close()  # the JVM exits on EOF, writing the archive
            proc.wait(timeout=300)
        with open(tmp, "rb") as f:
            if f.read(4) != CDS_MAGIC:
                raise RuntimeError(f"the JVM wrote no archive to {tmp}")
        # other installs' archives and the leftovers of killed builds
        for old in glob.glob(os.path.join(os.path.dirname(archive), "spark-*")):
            if old not in (archive, tmp):
                os.remove(old)
        os.replace(tmp, archive)
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)
    return archive
