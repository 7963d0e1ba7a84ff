"""In-memory spans around calls into the engine, plus readers for
Spark's own status stores.

A span is (name, start, end, parent, request id); the layer of a span
is the part of its name before the first dot. Spans are recorded from
the benchmark's files only, around the public calls into each layer:
nothing inside `cityfinder_spark` is instrumented. Each span that
closes over Spark actions collects what those actions did, read from
the stage list and the SQL execution metrics after the fact.

With tracing off every `span` call is a no-op context manager, so the
untraced run pays nothing but the call.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    id: int = 0
    parent: int | None = None  # id of the enclosing span
    req: int | None = None
    spark: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of its interval covered by
    its direct children among `spans` (overlapping children count once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s.id, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(s.duration - covered)
    return out


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    acc: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        acc[s.layer] = acc.get(s.layer, 0.0) + t
    return acc


class Tracer:
    """Records spans when enabled; `probe`, once the session is up, is the
    SparkProbe that attaches status-store metrics to spans opened with
    spark=True."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.probe: SparkProbe | None = None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._pending: list[tuple[Span, tuple, tuple]] = []

    @contextmanager
    def span(self, name: str, req: int | None = None, spark: bool = False):
        """Record a span. With spark=True it also notes which Spark jobs
        and SQL executions ran inside it; `resolve` reads what they did
        later, so the status stores are not walked inside the loop."""
        if not self.enabled:
            yield None
            return
        mark = self.probe.mark() if spark and self.probe else None
        s = Span(name, time.perf_counter(), id=len(self.spans),
                 parent=self._stack[-1] if self._stack else None, req=req)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                self._pending.append((s, mark, self.probe.mark()))

    def resolve(self) -> None:
        """Attach status-store metrics to every span closed since the
        last call."""
        for s, before, after in self._pending:
            s.spark = self.probe.between(before, after)
        self._pending.clear()


# ---- the process tree: this process, the JVM and its Python workers ----


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = [root], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        tree += kids
        frontier += kids
    return tree


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live process tree under `root`."""
    total = 0
    for p in process_tree(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            pass
    return total / os.sysconf("SC_CLK_TCK")


# ---- Spark status stores ----

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as the status store formats it: a plain
    count ('100,000'), or 'total (min, med, max ...)\\n<total> (...)'
    with a time or size unit. Times come back in seconds, sizes in
    bytes."""
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


# SQL metric name -> our key; summed over every plan node that has it
SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "scan time": "scan_s",
}


class SparkProbe:
    """Reads what Spark actions did from the Spark driver's status stores:
    `mark()` before and after, `between(before, after)` any time later.
    Jobs are found through the status tracker, their stages in the stage
    store, and the SQL executions by id (ids only grow)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self._empty_q = sc._gateway.new_array(self.jvm.double, 0)

    def _seq(self, s) -> list:
        return list(self.conv.asJava(s))

    def mark(self) -> tuple[set[int], int, float]:
        return (
            set(self.tracker.getJobIdsForGroup()),
            int(self.sql.executionsCount()),
            tree_cpu_s(os.getpid()),
        )

    def between(self, before: tuple, after: tuple) -> dict[str, float]:
        """What the jobs and SQL executions started between two marks did."""
        jobs0, n_exec0, cpu0 = before
        jobs1, n_exec, cpu1 = after
        jobs = sorted(jobs1 - jobs0)
        out = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "executor_run_s",
            "input_bytes", "output_bytes", "shuffle_write_bytes", "spill_bytes",
            "task_skew", *SQL_METRICS.values(),
        )}
        out["jobs"] = len(jobs)
        out["tree_cpu_s"] = cpu1 - cpu0
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        main_stage, main_run = None, -1.0
        for sid in sorted(stage_ids):
            attempts = self._seq(self.store.stageData(
                sid, False, self.jvm.java.util.ArrayList(), False, self._empty_q
            ))
            for st in attempts:
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                run_s = st.executorRunTime() / 1e3
                out["executor_run_s"] += run_s
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if run_s > main_run:
                    main_stage, main_run = (sid, st.attemptId()), run_s
        if main_stage is not None:
            durs = [
                float(t.duration().get())
                for t in self._seq(self.store.taskList(main_stage[0], main_stage[1], 100000))
                if t.duration().isDefined()
            ]
            if durs and statistics.median(durs) > 0:
                out["task_skew"] = max(durs) / statistics.median(durs)
        if n_exec > n_exec0:
            for e in self._seq(self.sql.executionsList(n_exec0, n_exec - n_exec0)):
                values = dict(self.conv.asJava(self.sql.executionMetrics(e.executionId())))
                # adaptive re-planning can list one accumulator twice
                names = {m.accumulatorId(): m.name() for m in self._seq(e.metrics())}
                for acc, name in names.items():
                    key = SQL_METRICS.get(name)
                    if key is not None and acc in values:
                        out[key] += parse_metric(values[acc])
        return out


def merge(dicts: list[dict[str, float]]) -> dict[str, float]:
    """Sum of per-span Spark metrics (task_skew: the largest)."""
    out: dict[str, float] = {}
    for d in dicts:
        for k, v in d.items():
            out[k] = max(out.get(k, 0.0), v) if k == "task_skew" else out.get(k, 0.0) + v
    return out
