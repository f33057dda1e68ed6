"""Outside-in tracing: spans around the engine's public functions.

Only the traced run installs these wrappers; the untraced run calls the
engine untouched. Each wrapper opens a span (name, start, end, parent),
gives the span its own Spark job group, and, for functions that return a
lazy DataFrame, persists and counts the result inside the span so the
layer's work is charged to the layer that planned it. Right after the
span ends its jobs' stage metrics are read from the status store (run
time, CPU, shuffle, spill, GC), so the store's job/stage retention never
drops them. Python-worker CPU comes from ``/proc``.

Spans stay in memory; ``Tracer.spans`` is summarized at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip().startswith("python")
    except OSError:
        return False


def _cpu_s(pids) -> float:
    """CPU seconds of ``pids``, each with its exited children that it has
    reaped. Time the hypervisor steals from the host is in none of them."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's Python descendants (the pyspark daemon and
    its forked workers), including exited workers the daemon has reaped."""
    return _cpu_s(p for p in descendants(jvm_pid)[1:] if _is_python(p))


def clock(spark) -> tuple[float, float]:
    """(wall, CPU) seconds, for timing a pass: the CPU of this driver
    process, the JVM and all of the JVM's descendants."""
    own = os.times()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return time.perf_counter(), own.user + own.system + _cpu_s(descendants(jvm_pid))


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024


class RssSampler:
    """High-water mark of the summed RSS of this process, the JVM and all
    of the JVM's descendants, sampled on a background thread."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = [os.getpid(), *descendants(self.jvm_pid)]
            self.peak_mb = max(self.peak_mb, rss_mb(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0
    rows_out: int | None = None
    stage: dict = field(default_factory=dict)
    python_cpu_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


_STAGE_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"
)


class Tracer:
    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._store = self.sc._jsc.sc().statusStore()
        self._patches: list[tuple[object, str, object]] = []
        self._paused = False

    # -- span lifecycle -----------------------------------------------------
    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"bench-{span.sid}", span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(name, next(self._ids), parent, time.perf_counter())
        span.python_cpu_s = -python_worker_cpu_s(self.jvm_pid)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.python_cpu_s += python_worker_cpu_s(self.jvm_pid)
        popped = self._stack.pop()
        assert popped is span, "spans must nest"
        self._group(self._stack[-1] if self._stack else None)
        span.stage = self._stage_metrics(f"bench-{span.sid}")

    def _stage_metrics(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage no longer in the store
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_mb"] += st.shuffleWriteBytes() / 2**20
                out["spill_mb"] += st.diskBytesSpilled() / 2**20
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    # -- wrappers -------------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, force: bool = False, pre=None, on_result=None):
        """Replace ``owner.attr`` with a spanned version. ``force``: the
        function returns a lazy DataFrame, which is persisted and counted
        inside the span. ``pre(span, args, kwargs)`` and
        ``on_result(span, args, kwargs, result)`` record layer counters."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            if tracer._paused:
                return original(*args, **kwargs)
            span = tracer.open(name)
            try:
                if pre is not None:
                    pre(span, args, kwargs)
                result = original(*args, **kwargs)
                if force and isinstance(result, DataFrame):
                    result = result.persist()
                    span.rows_out = result.count()
                if on_result is not None:
                    on_result(span, args, kwargs, result)
                return result
            finally:
                tracer.close(span)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, spanned)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    @contextlib.contextmanager
    def region(self, name: str, paused: bool = False):
        """A span around benchmark-side code. ``paused``: the layer
        wrappers inside it call straight through, so the engine runs as
        in an untraced pass and the whole region is one span."""
        span = self.open(name)
        self._paused = paused
        try:
            yield span
        finally:
            self._paused = False
            self.close(span)


def region(tracer: Tracer | None, name: str, paused: bool = False):
    """``tracer.region``, or nothing when the pass is untraced."""
    return contextlib.nullcontext() if tracer is None else tracer.region(name, paused)


def written_mb(path: str, since: float) -> float:
    """Size of the files under ``path`` modified at or after ``since``
    (epoch seconds): what a sink call wrote, whatever it deleted."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total / 2**20


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover (children
    of one span never overlap: the benchmark drives one thread)."""
    child_sum: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.wall_s
    return {s.sid: s.wall_s - child_sum.get(s.sid, 0.0) for s in spans}


def stage_totals(spans: list[Span]) -> dict[str, float]:
    """Whole-run stage totals: each job belongs to exactly one span's group."""
    out = dict.fromkeys(_STAGE_FIELDS, 0.0)
    for s in spans:
        for k in _STAGE_FIELDS:
            out[k] += s.stage.get(k, 0.0)
    return out
