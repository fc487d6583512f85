"""Measurement helpers: process-tree CPU, Spark status-store counters,
a streaming progress listener, storage retention, spans, the host's
steal share and the drift probe. Nothing here changes what the engine does; each helper only
reads state the engine or the OS already keeps."""

from __future__ import annotations

import os
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

_CLK = os.sysconf("SC_CLK_TCK")


#: thread names (``comm``, cut to 15 characters) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of process ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if fh.read().strip() not in JIT_THREADS:
                    continue
            fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])
    return total


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """User + system CPU seconds of ``root_pid`` and every live
    descendant, plus the reaped children each of them waited for. That
    covers this process, the JVM it launched and the JVM's Python
    workers, including workers that exited during the interval.

    Returns (CPU seconds without the JIT, JIT seconds). The JVM's JIT
    compiler threads are counted apart: right after warm-up
    they were the largest single consumer in a timed pass (9 of 33.5 CPU
    seconds in a serve_mixed pass on a 4-vCPU virtual machine), and how
    much they compile inside the pass depends on how far they got
    during set-up, not on the engine's work. The JVM runs with a fixed
    set of compiler threads, so none exits with its time uncounted."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{entry}/stat")
        except OSError:  # exited while we listed
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime..cstime
    total, jit, frontier = 0, 0, [root_pid]
    seen = set()
    children = defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    while frontier:
        pid = frontier.pop()
        if pid in seen or pid not in ticks:
            continue
        seen.add(pid)
        compiling = _jit_ticks(pid)
        total += ticks[pid] - compiling
        jit += compiling
        frontier.extend(children[pid])
    return total / _CLK, jit / _CLK


def host_ticks() -> list[int]:
    """The machine-wide CPU tick counters (user .. steal) of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``host_ticks`` reads
    that the hypervisor gave to other guests. Wall times inflate with it;
    CPU times of this process tree do not."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def drift_kernel_s(reps: int = 3) -> float:
    """Median time of a fixed single-threaded integer kernel, run warm.
    It touches neither Spark nor the disk, so a change in the engine
    cannot move it; only the machine (frequency, neighbours) can."""
    def kernel() -> int:
        acc = 0
        for i in range(1_000_000):
            acc = (acc * 31 + i) % 1_000_003
        return acc

    kernel()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        kernel()
        times.append(time.perf_counter() - t0)
    return sorted(times)[reps // 2]


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def spark_counters(spark, since_ms: int) -> dict[str, float]:
    """Totals over every job submitted at or after ``since_ms`` (epoch
    ms), read from the live application status store (kept with the UI
    disabled too). Skipped stages count once at most and add no tasks."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ["jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "gc_s",
         "executor_cpu_s", "stream_jobs"], 0.0)
    stage_ids: set[int] = set()
    for job in _scala_seq(store.jobsList(None)):
        sub = job.submissionTime()
        if not sub.isDefined() or sub.get().getTime() < since_ms:
            continue
        out["jobs"] += 1
        desc = job.description()
        if desc.isDefined() and "runId = " in desc.get():
            out["stream_jobs"] += 1
        stage_ids.update(_scala_seq(job.stageIds()))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # never attempted: skipped from a reused shuffle
            continue
        if st.numCompleteTasks() == 0:
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
    return out


def retained(spark) -> tuple[int, float]:
    """(RDDs still persisted or checkpointed, MB of storage they hold)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class StreamStats(StreamingQueryListener):
    """Collects every micro-batch's progress report of every query."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.batches.append({
            "wall_ms": time.time() * 1e3,
            "trigger_ms": d.get("triggerExecution", 0),
            "addbatch_ms": d.get("addBatch", 0),
            "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0)
            + d.get("commitBatch", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """In-memory spans: (name, start, end, parent). ``enabled`` False
    makes ``span`` a no-op so the untraced phase pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        if self.tracer.enabled:
            t = self.tracer
            self.rec = {"name": self.name, "start": time.perf_counter(),
                        "parent": t._stack[-1] if t._stack else None,
                        **self.attrs}
            t.spans.append(self.rec)
            t._stack.append(len(t.spans) - 1)
        return self

    def __exit__(self, *exc):
        if self.tracer.enabled:
            self.rec["end"] = time.perf_counter()
            self.tracer._stack.pop()
        return False


def median(xs: list[float]) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))
    return xs[int(k)]
