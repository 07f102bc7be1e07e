"""Spans around the benchmark's calls into each layer, with the Spark
job, stage and task counts of each span's job group.

A span records name, kind, start, end, parent and run id. Each span
runs its calls under a job group of its own, so the counts attached to
it are the span's own (its children's jobs carry their own groups).
Spans are kept in memory; ``finish`` reads the counts once all work is
done and ``dump`` writes everything out at the end of the run.

With tracing off a span still times its body (the workloads need the
durations) but sets no job group and records nothing.
"""

from __future__ import annotations

import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "build" | "exec" | "" (structural)
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Timer:
    """What a span body gets back: its own duration once it has ended."""

    def __init__(self) -> None:
        self.start = time.perf_counter()
        self.dur = 0.0
        self.span: Span | None = None


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool) -> None:
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: dict[int, list[int]] = {}  # thread id -> open span ids

    @contextmanager
    def span(self, name: str, kind: str = "", parent: Span | None = None, **attrs):
        """Time the body as one span. ``parent`` links a span opened on
        another thread (a streaming callback) to the span that waits
        for it; otherwise the innermost open span of this thread is the
        parent."""
        t = Timer()
        if not self.enabled:
            try:
                yield t
            finally:
                t.dur = time.perf_counter() - t.start
            return
        stack = self._stack.setdefault(threading.get_ident(), [])
        pid = parent.id if parent is not None else (stack[-1] if stack else None)
        sp = Span(len(self.spans), name, kind, pid, self.run_id, t.start, attrs=dict(attrs))
        self.spans.append(sp)
        t.span = sp
        stack.append(sp.id)
        old = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, self._group(sp))
        try:
            yield t
        finally:
            self.sc.setLocalProperty(GROUP_PROP, old)
            stack.pop()
            sp.end = time.perf_counter()
            t.dur = sp.end - sp.start

    def _group(self, sp: Span) -> str:
        return f"{self.run_id}.{sp.id}"

    def finish(self) -> None:
        """Attach job/stage/task counts to every span. Stages count only
        if they ran tasks (a skipped stage reuses earlier shuffle output)."""
        if not self.enabled:
            return
        drain_listener_bus(self.sc)
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(self._group(sp))
            stage_ids: set[int] = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            stages = tasks = 0
            for s in stage_ids:
                si = st.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
            sp.jobs, sp.stages, sp.tasks = len(jobs), stages, tasks

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.dur - covered

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for sp in self.spans:
                rec = asdict(sp)
                rec["start"] = round(sp.start - t0, 6)
                rec["end"] = round(sp.end - t0, 6)
                rec["self_s"] = round(self.self_time(sp), 6)
                f.write(json.dumps(rec) + "\n")


def drain_listener_bus(sc, timeout_ms: int = 10_000) -> None:
    """Wait until the status listeners have seen every event posted so
    far, so job/stage/task counts read afterwards are complete."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


# ---- final AQE plans ---------------------------------------------------------

_PY_NODE = re.compile(r"Python|Pandas|Arrow")


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).apply(0).executionId()


def plan_counts_since(spark, after_id: int) -> dict[str, int]:
    """Node counts over the final AQE plans of every SQL execution that
    started after ``after_id``: Exchange, BroadcastExchange,
    InMemoryTableScan and Python-eval nodes."""
    drain_listener_bus(spark.sparkContext)
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    k = min(n, 64)
    execs = store.executionsList(n - k, k)
    out = {"exchanges": 0, "broadcast_exchanges": 0, "inmemory_scans": 0, "python_eval_nodes": 0}
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            continue
        for node in final_plan_nodes(e.physicalPlanDescription()):
            if node == "Exchange":
                out["exchanges"] += 1
            elif node == "BroadcastExchange":
                out["broadcast_exchanges"] += 1
            elif node == "InMemoryTableScan":
                out["inmemory_scans"] += 1
            elif _PY_NODE.search(node):
                out["python_eval_nodes"] += 1
    return out


def final_plan_nodes(desc: str) -> list[str]:
    """Node names of the final plan in a formatted plan description
    (the tree part only; an adaptive plan's initial plan is skipped)."""
    lines = desc.splitlines()
    if any("== Final Plan ==" in ln for ln in lines):
        start = next(i for i, ln in enumerate(lines) if "== Final Plan ==" in ln) + 1
        stop = next((i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln), len(lines))
    else:
        start = next((i for i, ln in enumerate(lines) if ln.startswith("== Physical Plan ==")), -1) + 1
        stop = next((i for i in range(start, len(lines)) if not lines[i].strip()), len(lines))
    nodes = []
    for ln in lines[start:stop]:
        name = re.sub(r"^[\s:+|-]*(\*\s*)?", "", ln)
        name = re.sub(r"\s*\(\d+\).*$", "", name).strip()
        if name and not name.startswith("=="):
            nodes.append(name)
    return nodes
