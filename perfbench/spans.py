"""Spans, per-layer counters and process statistics for the benchmark.

Spans are recorded in the benchmark's own code around each call into a
layer (name, start, end, parent, run id) and held in memory until the
run ends. In a traced run every span is closed by a snapshot of Spark's
status store, so the stages and jobs that ran inside it are attributed
to it; an untraced run keeps only the timings.

Only state Spark already tracks is read: the status store
(``statusStore().stageData``) works with the UI off, and ``/proc``
gives CPU and RSS per process.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

COUNTERS = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals; overlaps
    count once and empty or inverted intervals count zero."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


# ---------------------------------------------------------------------------
# /proc


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, utime+stime+cutime+cstime ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, _, rest = raw.rpartition(") ")
        comm = head.split(" (", 1)[1] if " (" in head else ""
        f = rest.split()
        try:
            out[int(name)] = (int(f[1]), comm, int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]))
        except (IndexError, ValueError):
            continue
    return out


def _tree(table: dict[int, tuple[int, str, int]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
            stack.extend(kids.get(pid, []))
    return out


def proc_cpu_split() -> tuple[float, float]:
    """(JVM CPU s, Python CPU s) of this process tree. The JVM is every
    ``java`` process; everything else is the Python driver and its
    Arrow/UDF workers. Reaped children count through c-times."""
    table = _proc_table()
    tck = os.sysconf("SC_CLK_TCK")
    jvm = py = 0
    for pid in _tree(table, os.getpid()):
        _, comm, ticks = table[pid]
        if comm == "java":
            jvm += ticks
        else:
            py += ticks
    return jvm / tck, py / tck


def proc_tree_peak_rss_mb() -> float:
    """Sum of each live tree member's peak RSS (VmHWM), in MB."""
    total_kb = 0
    for pid in _tree(_proc_table(), os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store


class StageReader:
    """Reads the stages and jobs created since the previous call from the
    live SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._al = jvm.java.util.ArrayList
        self._quantiles = sc._gateway.new_array(jvm.double, 0)
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = (
            jvm.java.lang.Class.forName("com.fasterxml.jackson.module.scala.DefaultScalaModule$")
            .getField("MODULE$").get(None)
        )
        self._mapper.registerModule(scala_module)
        self._last_job = self._max_job()
        self._last_stage = self._max_stage(self._last_job, -1)

    def _max_job(self) -> int:
        ids = self._sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _max_stage(self, job: int, default: int) -> int:
        info = self._sc.statusTracker().getJobInfo(job) if job >= 0 else None
        return max(info.stageIds) if info is not None and len(info.stageIds) else default

    def take(self) -> tuple[int, list[dict]]:
        """(new job count, new stage records) since the last call."""
        self._ssc.listenerBus().waitUntilEmpty()
        job = self._max_job()
        top = self._max_stage(job, self._last_stage)
        stages: list[dict] = []
        for sid in range(self._last_stage + 1, top + 1):
            try:
                attempts = self._store.stageData(sid, False, self._al(), False, self._quantiles)
            except Exception:  # noqa: BLE001 - an id whose stage was never submitted
                continue
            stages.extend(json.loads(self._mapper.writeValueAsString(attempts)))
        n_jobs = max(0, job - self._last_job)
        self._last_job, self._last_stage = job, max(top, self._last_stage)
        return n_jobs, stages


def stage_counters(stages: list[dict], n_jobs: int, lo_ms: float, hi_ms: float) -> dict[str, float]:
    """Counters of one span from its stage records; ``driver_s`` is the
    span wall minus the union of its stages' run intervals."""
    ran = [s for s in stages if s.get("status") != "SKIPPED"]
    c = {
        "jobs": n_jobs,
        "stages": len(ran),
        "tasks": sum(s["numCompleteTasks"] for s in ran),
        "task_s": sum(s["executorRunTime"] for s in ran) / 1e3,
        "task_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran),
    }
    ivals = [(s["submissionTime"], s["completionTime"]) for s in ran
             if s.get("submissionTime") is not None and s.get("completionTime") is not None]
    busy = interval_union(clip(ivals, lo_ms, hi_ms)) / 1e3
    c["driver_s"] = max(0.0, (hi_ms - lo_ms) / 1e3 - busy)
    return c


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    run_id: str
    group: int | str  # pass index, or "setup"
    counters: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans. With ``traced`` set, each leaf span also takes a
    status-store snapshot when it closes; the time spent taking
    snapshots is kept in ``overhead_s``."""

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self.group: int | str = "setup"
        self._stack: list[int] = []
        self._reader: StageReader | None = None

    def attach(self, spark) -> None:
        """Point the status-store reader at a (new) SparkContext."""
        if self.traced:
            t = time.perf_counter()
            self._reader = StageReader(spark)
            self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, leaf: bool = True):
        sp = Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None,
                  self.run_id, self.group)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if leaf and self.traced and self._reader is not None:
                t = time.perf_counter()
                n_jobs, stages = self._reader.take()
                sp.counters = stage_counters(stages, n_jobs, sp.start * 1e3, sp.end * 1e3)
                self.overhead_s += time.perf_counter() - t

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append((sp.start, sp.end))
        return [
            sp.s - interval_union(clip(kids.get(i, []), sp.start, sp.end))
            for i, sp in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump([
                {"name": sp.name, "start": sp.start, "end": sp.end, "parent": sp.parent,
                 "run_id": sp.run_id, "group": sp.group, "self_s": st, **sp.counters}
                for sp, st in zip(self.spans, selfs)
            ], fh, indent=1)
            fh.write("\n")
