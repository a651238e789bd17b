"""Spans recorded around the benchmark's calls into each layer, and the
Spark counters read from a local event log.

A traced operation materializes the output of every public call inside that
call's span (``localCheckpoint(eager=True)``), so each span covers the Spark
work of its layer and the spans of one operation tile its wall time.  The
cuts add work, which is why end-to-end metrics come from the untraced run and
the traced run reports its own wall beside the untraced one.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


# ------------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run: str


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c.start, s.start), min(c.end, s.end)) for c in children[s.id])
        covered, cur = 0.0, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s.id] = (s.end - s.start) - covered
    return out


class NullTracer:
    """Runs each operation as one Spark plan; records nothing."""

    traced = False

    def span(self, name):
        return nullcontext()

    def cut(self, name, make):
        return make()

    def collect(self, name, make):
        return make().toPandas()


class Tracer:
    """Records (name, start, end, parent, run id) spans in memory."""

    traced = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.cuts: list[tuple[str, str, object]] = []  # (op span, name, frame)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, time.perf_counter(), None,
                 self._stack[-1] if self._stack else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def _planned(self, make):
        with self.span("driver.plan"):
            df = make()
            df._jdf.queryExecution().executedPlan()
        return df

    def cut(self, name, make):
        with self.span(name):
            df = self._planned(make).localCheckpoint(eager=True)
        self.cuts.append((self.spans[self._stack[0]].name if self._stack else "", name, df))
        return df

    def collect(self, name, make):
        with self.span(name):
            return self._planned(make).toPandas()

    def noop(self, name, make):
        """A probe: run the plan to Spark's no-op sink."""
        with self.span(name):
            self._planned(make).write.format("noop").mode("overwrite").save()

    def layer_seconds(self) -> dict[str, float]:
        """Self time summed per span name."""
        st = self_times(self.spans)
        out = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.id]
        return dict(out)

    def op_accounting(self) -> dict[str, tuple[float, float]]:
        """op -> (wall, share of the wall covered by layer spans below it),
        for the spans named ``op.<op>``."""
        st = self_times(self.spans)
        out = {}
        for s in self.spans:
            if s.name.startswith("op."):
                wall = s.end - s.start
                out[s.name[3:]] = (wall, (wall - st[s.id]) / wall if wall > 0 else 0.0)
        return out

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "name": s.name, "start": s.start - t0,
                                    "end": s.end - t0, "parent": s.parent, "run": s.run,
                                    "self_s": st[s.id]}) + "\n")


# --------------------------------------------------------------- event log
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "ArrowWindowPython", "WindowInPandas")
ROWS_METRICS = ("number of output rows", "records read")


def _metric_ids(node) -> dict[str, int]:
    return {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}


def _rows_into(node) -> int | None:
    """Accumulator counting the rows a node reads: the nearest row count
    down its first-child chain (codegen and projection nodes keep none)."""
    for child in node.get("children", [])[:1]:
        ids = _metric_ids(child)
        for name in ROWS_METRICS:
            if name in ids:
                return ids[name]
        return _rows_into(child)
    return None


@dataclass
class Task:
    stage: int
    stage_attempt: int
    partition: int
    attempt: int
    run_ms: float
    gc_ms: float
    shuffle_bytes: float
    shuffle_records: float
    spill_bytes: float
    updates: dict = field(default_factory=dict)  # accumulator id -> update


class EventLog:
    """Task records and SQL metric roles from a Spark event log.  Roles come
    from each SQL execution's final plan: an adaptive re-plan can point a
    node at a different child metric, and counting both would double it."""

    def __init__(self, events):
        self.stage_group: dict[int, str] = {}
        self.tasks: dict[tuple[int, int], Task] = {}
        self.roles: dict[int, set] = defaultdict(set)
        plans = {}  # execution id -> its latest (adaptive) plan
        for e in events:
            kind = e.get("Event", "")
            if "sparkPlanInfo" in e:
                plans[e.get("executionId")] = e["sparkPlanInfo"]
            elif kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in e.get("Stage IDs", []):
                    self.stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                self.add_task(self._task(e))
        for plan in plans.values():
            self._walk(plan)

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(json.loads(line) for line in f if line.strip())

    def _walk(self, node) -> None:
        name = node.get("nodeName", "")
        ids = _metric_ids(node)
        if name.startswith("Scan") and "number of output rows" in ids:
            self.roles[ids["number of output rows"]].add("scan_rows")
        if name.split(" ")[0] in PYTHON_NODES:
            if "data sent to Python workers" in ids:
                self.roles[ids["data sent to Python workers"]].add("python_bytes_in")
            rows = _rows_into(node)
            if rows is not None:
                self.roles[rows].add("python_rows_in")
        for child in node.get("children", []):
            self._walk(child)

    @staticmethod
    def _task(e) -> Task:
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        updates = {}
        for a in info.get("Accumulables", []):
            try:
                updates[a["ID"]] = float(a.get("Update", 0))
            except (TypeError, ValueError):
                continue
        return Task(
            stage=e["Stage ID"], stage_attempt=e.get("Stage Attempt ID", 0),
            partition=info.get("Partition ID", info.get("Index")), attempt=info.get("Attempt", 0),
            run_ms=m.get("Executor Run Time", 0), gc_ms=m.get("JVM GC Time", 0),
            shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
            shuffle_records=sw.get("Shuffle Records Written", 0),
            spill_bytes=m.get("Disk Bytes Spilled", 0), updates=updates)

    def add_task(self, t: Task) -> None:
        """Keep one record per (stage, partition): the latest attempt, since a
        recomputed task re-reports its metrics."""
        key = (t.stage, t.partition)
        old = self.tasks.get(key)
        if old is None or (t.stage_attempt, t.attempt) >= (old.stage_attempt, old.attempt):
            self.tasks[key] = t

    def counters(self, group: str) -> dict[str, float]:
        stages = {s for s, g in self.stage_group.items() if g == group}
        tasks = [t for t in self.tasks.values() if t.stage in stages]
        out = {"scan_rows": 0.0, "python_rows_in": 0.0, "python_bytes_in": 0.0}
        for t in tasks:
            for acc, v in t.updates.items():
                for role in self.roles.get(acc, ()):
                    out[role] += v
        by_stage = defaultdict(list)
        for t in tasks:
            by_stage[t.stage].append(t.run_ms)
        skew = 1.0
        if by_stage:
            runs = max(by_stage.values(), key=sum)
            med = statistics.median(runs)
            skew = max(runs) / med if med > 0 else 1.0
        out.update(
            shuffle_bytes=sum(t.shuffle_bytes for t in tasks),
            shuffle_records=sum(t.shuffle_records for t in tasks),
            spill_bytes=sum(t.spill_bytes for t in tasks),
            gc_s=sum(t.gc_ms for t in tasks) / 1000.0,
            task_skew=skew,
        )
        return out
