"""Measurement plumbing: process-tree CPU and memory, Spark status-store counters,
in-memory layer spans and the wrappers that open them.

Everything here observes ``tsdownsample_spark`` from outside: spans are
opened around calls into its public functions (the benchmark's own calls,
plus module attributes it rebinds to timing wrappers), and Spark counters
come from the application status store, filtered by the job group the
benchmark sets for each call.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")

# Spark stage counters summed per call (status-store StageData getters).
SPARK_COUNTERS = (
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "shuffle_fetch_wait_s",
    "spill_bytes",
    "tasks",
    "input_records",
    "scan_stages",
)


# ------------------------------------------------------------ process tree


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while listing
        rest = raw[raw.rfind(")") + 2 :].split()
        out[int(name)] = (int(rest[1]), rest)
    return out


def _tree(root: int) -> list[tuple[int, list[str]]]:
    """(pid, stat fields) of ``root`` and every live descendant."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append((p, table[p][1]))
            todo.extend(kids.get(p, ()))
    return out


def tree_pids(root: int) -> list[int]:
    return [pid for pid, _ in _tree(root)]


def tree_cpu_s(root: int) -> float:
    """User+sys CPU seconds of ``root`` and every live descendant, including
    the reaped children each one accounts for (cutime/cstime)."""
    # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
    return sum(sum(int(x) for x in f[11:15]) for _, f in _tree(root)) / _CLK


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the live process tree, in MiB: resident
    memory with each shared page split among its sharers, so forked Python
    workers are not counted once per fork."""
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


# ------------------------------------------------------ Spark status store


def spark_counters(spark, group: str) -> dict[str, float]:
    """Sum stage counters over every job the given job group ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted, nothing to add
                continue
            tot["executor_cpu_s"] += s.executorCpuTime() / 1e9
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["tasks"] += s.numTasks()
            tot["input_records"] += s.inputRecords()
            tot["scan_stages"] += 1 if s.inputRecords() > 0 else 0
    return tot


def plan_metric(df, name: str) -> float:
    """Sum one SQL metric over every node of ``df``'s executed plan
    (descending through adaptive query stages)."""
    total, todo = 0.0, [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        m = p.metrics().get(name)
        if m.isDefined():
            total += m.get().value()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(p.plan())
        else:
            ch = p.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return total


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)  # jobs run under this span only
    counters_incl: dict = field(default_factory=dict)  # ... and under its children
    self_s: float = 0.0


class Tracer:
    """In-memory spans for one run; written out once, at the end.

    While active, each span runs its Spark jobs under a job group of its
    own, and reads that group's stage counters from the status store when
    it closes."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.active = False
        self.spark = None
        self._stack: list[Span] = []

    def _enter_group(self, s: Span | None) -> None:
        if self.spark is not None and s is not None:
            self.spark.sparkContext.setJobGroup(f"{self.run_id}-{s.id}", s.name)

    def open(self, name: str, layer: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, layer, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._enter_group(s)
        return s

    def close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._stack.pop()
        if self.spark is not None:
            # stage metrics reach the status store through the listener bus
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            s.counters = spark_counters(self.spark, f"{self.run_id}-{s.id}")
        self._enter_group(self._stack[-1] if self._stack else None)

    def finish(self) -> None:
        """Self time = own duration minus the part its children cover
        (children of one span never overlap: every call is awaited);
        inclusive counters add up the children's."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            s.counters_incl = dict(s.counters)
            if s.parent is not None:
                child_s[s.parent] = child_s.get(s.parent, 0.0) + (s.end - s.start)
        for s in self.spans:
            s.self_s = max(0.0, (s.end - s.start) - child_s.get(s.id, 0.0))
        for s in reversed(self.spans):  # children were opened after parents
            if s.parent is not None:
                up = self.spans[s.parent].counters_incl
                for k, v in s.counters_incl.items():
                    up[k] = up.get(k, 0.0) + v

    def to_json(self) -> dict:
        return {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": s.id,
                    "name": s.name,
                    "layer": s.layer,
                    "parent": s.parent,
                    "start": s.start,
                    "end": s.end,
                    "self_s": s.self_s,
                    "counters": s.counters,
                    "counters_incl": s.counters_incl,
                }
                for s in self.spans
            ],
        }


def wrap(tracer: Tracer, fn, name: str, layer: str, after=None):
    """A stand-in for ``fn`` that records a span per call while the tracer
    is active; ``after(result, *args)`` then runs on each traced call."""

    def traced(*a, **kw):
        s = tracer.open(name, layer)
        try:
            out = fn(*a, **kw)
        finally:
            tracer.close(s)
        if s is not None and after is not None:
            after(out, *a)
        return out

    traced.__wrapped__ = fn
    return traced


def rebind_everywhere(orig, replacement, prefix: str = "tsdownsample_spark") -> int:
    """Point every module-level name bound to ``orig`` (under ``prefix``) at
    ``replacement``: ``from x import f`` copies the binding, so patching the
    defining module alone would miss the importers."""
    n = 0
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == prefix or mname.startswith(prefix + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, replacement)
                n += 1
    return n
