"""Measurement from outside the program: /proc sampling, Spark's status
store, and an in-memory span tracer."""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ----------------------------------------------------------------- /proc
def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` and all its descendants (driver JVM and
    Python workers included), as proportional set size: pages shared
    between processes — the forked Python workers share most of theirs
    with the worker daemon — are split between them instead of being
    counted once per process.  Returns (bytes, processes)."""
    total, procs, todo = 0, 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
        procs += 1
        todo.extend(_children(pid))
    return total, procs


class RssSampler:
    """Largest resident memory of the process tree seen over the run.

    ``sample()`` is called between timed passes, never during one: one
    walk of the tree reads ``smaps_rollup`` of the JVM and every Python
    worker and costs 20-50 ms of CPU with the JVM's memory map locked,
    which a 4-core box running four busy workers feels.  Python workers
    stay alive between passes and the JVM heap does not shrink, so a
    sample right after a pass sits close to the pass's peak."""

    def __init__(self) -> None:
        self.peak = 0
        self.peak_procs = 0

    def sample(self) -> None:
        total, procs = tree_memory_bytes(os.getpid())
        if total > self.peak:
            self.peak, self.peak_procs = total, procs

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Hypervisor steal as a share of all CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return round(100.0 * d[7] / total, 3) if total else 0.0


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's .crc side files
    and _SUCCESS markers excluded)."""
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
    return total


# ----------------------------------------------------------------- spans
class Tracer:
    """In-memory spans (name, start, end, parent, trace id); written out
    once the run ends.  Times are epoch seconds, the clock Spark's status
    store uses, so its stages can be children of the benchmark's spans."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, **attrs) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "trace": trace, **attrs})
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, trace, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_stages(self, stages: list[dict], trace: str, parent: int) -> None:
        """Spark stages read from the status store, as child spans."""
        for s in stages:
            if s["start"] is not None and s["end"] is not None:
                self.add("spark.stage", s["start"], s["end"], trace, parent,
                         stage=s["stage"], tasks=s["tasks"])

    def duration(self, sid: int) -> float:
        return self.spans[sid]["end"] - self.spans[sid]["start"]

    def total(self, name: str, trace_prefix: str = "") -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["trace"].startswith(trace_prefix))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], [])]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return {k: round(v, 6) for k, v in sorted(out.items())}


def union_length(intervals) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ----------------------------------------------------- Spark status store
def wait_for_listeners(sc) -> None:
    """Stage metrics reach the status store through the listener bus;
    drain it before reading."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def group_stages(sc, group: str) -> list[dict]:
    """Every stage that ran for jobs of ``group`` (skipped stages left
    out), with the metrics the status store keeps for it."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    seen, out = set(), []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid in seen:
                continue
            seen.add(sid)
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue
            tasks = store.taskList(sid, sd.attemptId(), sd.numTasks())
            durs = [tasks.apply(i).duration() for i in range(tasks.size())]
            out.append({
                "stage": sid,
                "tasks": sd.numTasks(),
                "run_s": sd.executorRunTime() / 1e3,
                "cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "shuffle_write_mb": sd.shuffleWriteBytes() / 2**20,
                "shuffle_read_mb": sd.shuffleReadBytes() / 2**20,
                "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20,
                "start": _opt_ms(sd.submissionTime()),
                "end": _opt_ms(sd.completionTime()),
                "task_s": [d.get() / 1e3 for d in durs if d.isDefined()],
            })
    return out


def engine_metrics(stages: list[dict], wall: float) -> dict[str, float]:
    """Per-pass engine totals; ``driver_s`` is wall time outside the
    union of stage intervals, ``task_skew`` is max/median task time of
    the stage with the most tasks."""
    widest = max(stages, key=lambda s: s["tasks"], default=None)
    skew = 0.0
    if widest and widest["task_s"] and median(widest["task_s"]) > 0:
        skew = max(widest["task_s"]) / median(widest["task_s"])
    covered = union_length([(s["start"], s["end"]) for s in stages
                            if s["start"] is not None and s["end"] is not None])
    return {
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.run_s": sum(s["run_s"] for s in stages),
        "spark.cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.gc_s": sum(s["gc_s"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "spark.spill_mb": sum(s["spill_mb"] for s in stages),
        "spark.task_skew": skew,
        "spark.driver_s": max(wall - covered, 0.0),
    }


# the formatted plan's write node: "Arguments: file:/out/path, false, Parquet, ..."
_INSERT = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+)")


def sql_writes(spark, after_id: int) -> list[dict]:
    """SQL executions newer than ``after_id`` that wrote a table: output
    path, submission and completion (wall seconds)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id or not e.completionTime().isDefined():
            continue
        m = _INSERT.search(e.physicalPlanDescription())
        if m:
            out.append({"id": e.executionId(), "path": m.group(1),
                        "start": e.submissionTime() / 1000.0,
                        "end": e.completionTime().get().getTime() / 1000.0})
    return sorted(out, key=lambda x: x["id"])


def last_sql_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)
