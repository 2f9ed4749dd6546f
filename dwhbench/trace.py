"""Outside-in tracing: spans recorded around the engine's public entry
points from the benchmark process, with Spark jobs attributed to them.

Nothing inside the engine changes. ``Tracer.install`` swaps a wrapper in
for each eager entry point (``Pipeline.init_dates``/``run_*``, the
``Warehouse`` write / ``exists`` / ``read`` methods); the benchmark opens
spans itself around the lazy ones, whose work runs at a later action
(a ``plans.metrics`` function and ``forward_fill_daily`` up to the
``collect``, a registry query's ``fn`` up to its ``noop`` write). Every
span tags the jobs it starts with ``spark.addTag``; a job carries the
tags of all open spans and belongs to the innermost one.

Counters come from the status store through the UI REST API, read with
bench.py's settle (three equal consecutive reads) after each top-level
operation, and merged by id so entries the store later evicts
(``spark.ui.retainedJobs``/``retainedStages``, 1000 each) are kept.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

TAG_PREFIX = "dwhb"

#: stage counters kept per stage, REST field -> unit divisor
STAGE_FIELDS = {
    "executorCpuTime": 1e9,  # ns -> s
    "shuffleWriteBytes": 2**20,  # -> MB
    "inputRecords": 1,
    "diskBytesSpilled": 2**20,
    "memoryBytesSpilled": 2**20,
}


def _gmt(stamp: str) -> float:
    """REST timestamps (``2026-10-17T02:45:53.959GMT``) to epoch seconds."""
    return datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(tzinfo=timezone.utc).timestamp()


class StatusStore:
    """Settled, eviction-proof view of completed jobs and stages."""

    def __init__(self, spark):
        self.ui = spark.sparkContext.uiWebUrl
        if not self.ui:
            raise RuntimeError("the Spark UI is off: spark.ui.enabled must be true for counters")
        self.app = self._get("/applications")[0]["id"]
        #: (stageId, attemptId) -> counters
        self.stages: dict[tuple[int, int], dict[str, float]] = {}
        #: jobId -> {"tags", "stages", "start", "end"}
        self.jobs: dict[int, dict] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1{path}", timeout=10) as r:
            return json.load(r)

    def _read(self) -> tuple[list, list]:
        jobs = self._get(f"/applications/{self.app}/jobs")
        stages = self._get(f"/applications/{self.app}/stages?status=complete")
        return jobs, stages

    def settle(self) -> dict[str, float]:
        """Wait until three consecutive reads agree, merge them in, and
        return the counter totals of stages first seen by this call."""
        prev, stable = None, 0
        for _ in range(200):
            jobs, stages = self._read()
            running = any(j["status"] == "RUNNING" for j in jobs)
            sig = (len(jobs), len(stages), sum(s["executorCpuTime"] for s in stages))
            stable = stable + 1 if sig == prev and not running else 0
            prev = sig
            if stable >= 2:
                break
            time.sleep(0.25)
        new = dict.fromkeys(STAGE_FIELDS, 0.0)
        for s in stages:
            k = (s["stageId"], s["attemptId"])
            if k in self.stages:
                continue
            self.stages[k] = {f: s.get(f, 0) / d for f, d in STAGE_FIELDS.items()}
            for f in STAGE_FIELDS:
                new[f] += self.stages[k][f]
        for j in jobs:
            if j["jobId"] in self.jobs or j["status"] == "RUNNING":
                continue
            self.jobs[j["jobId"]] = {
                "tags": [t for t in j.get("jobTags", []) if f"-{TAG_PREFIX}" in t],
                "stages": j["stageIds"],
                "start": _gmt(j["submissionTime"]) if j.get("submissionTime") else None,
                "end": _gmt(j["completionTime"]) if j.get("completionTime") else None,
            }
        return new

    def total(self, field: str = "executorCpuTime") -> float:
        return sum(s[field] for s in self.stages.values())


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    #: counters of the jobs attributed to this span alone
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    jobs: int = 0
    #: [start, end] of each attributed job, for driver-only time
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(children.get(s.id, []), s.start, s.end) for s in spans}


class Tracer:
    """Spans kept in memory; ``install`` patches the engine's entry
    points for the lifetime of the tracer (``uninstall`` restores them)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op = 0
        #: op -> seconds spent in span bookkeeping (tagging, records)
        self.overhead: dict[int, float] = {}

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = Span(len(self.spans), name, self._stack[-1].id if self._stack else None, self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        tag = f"{TAG_PREFIX}{s.id}"
        self.spark.addTag(tag)
        cost = time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            self.spark.removeTag(tag)
            self._stack.pop()
            s.end = time.time()
            cost += time.perf_counter() - t1
            self.overhead[s.op] = self.overhead.get(s.op, 0.0) + cost

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> "Tracer":
        """Patch the engine's eager entry points. Lazy ones (the metric
        functions, ``forward_fill_daily``, registry ``fn``s) do their work
        at the caller's action, so the caller opens their span around
        build + action instead."""
        from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
        from batch_data_pipeline_exercise_spark.sources.warehouse import Warehouse

        for m in ("init_dates", "run_products", "run_orders", "run_inventory"):
            layer = "dates" if m == "init_dates" else "pipeline"
            self._wrap(Pipeline, m, lambda *a, _n=f"{layer}.{m}", **k: _n)
        for m in ("overwrite", "append", "append_once"):
            self._wrap(Warehouse, m, lambda self_, df, table, *a, _m=m, **k: f"warehouse.{_m}:{table}")
        for m in ("exists", "read"):
            self._wrap(Warehouse, m, lambda self_, table, *a, _m=m, **k: f"warehouse.{_m}")
        return self

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- attribution ----------------------------------------------------------

    def attribute(self, store: StatusStore) -> dict[str, float]:
        """Assign every settled job (and its stages) to the innermost span
        whose tag it carries. Each completed stage counts once, for the
        first job that lists it (later jobs reuse it as skipped). Returns
        attributed and total counters for the coverage check."""
        by_id = {s.id: s for s in self.spans}
        owner: dict[int, int] = {}
        for jid in sorted(store.jobs):
            for sid in store.jobs[jid]["stages"]:
                owner.setdefault(sid, jid)
        span_of: dict[int, Span] = {}
        for jid, job in store.jobs.items():
            ids = [int(t.rsplit(f"-{TAG_PREFIX}", 1)[1]) for t in job["tags"]]
            ids = [i for i in ids if i in by_id]
            if not ids:
                continue
            s = by_id[max(ids)]  # ids grow with nesting depth along one stack
            span_of[jid] = s
            s.jobs += 1
            if job["start"] is not None and job["end"] is not None:
                s.job_intervals.append((job["start"], job["end"]))
        attributed = 0.0
        for (sid, _attempt), c in store.stages.items():
            s = span_of.get(owner.get(sid, -1))
            if s is None:
                continue
            for f, v in c.items():
                s.counters[f] += v
            attributed += c["executorCpuTime"]
        return {"attributed_cpu_s": attributed, "total_cpu_s": store.total()}

    def inclusive(self) -> dict[int, dict]:
        """Per span: counters, job count and job intervals of the span and
        all its descendants."""
        out = {
            s.id: {"counters": dict(s.counters), "jobs": s.jobs, "intervals": list(s.job_intervals)}
            for s in self.spans
        }
        for s in sorted(self.spans, key=lambda s: -s.id):  # children before parents
            if s.parent is None:
                continue
            p, c = out[s.parent], out[s.id]
            for f, v in c["counters"].items():
                p["counters"][f] += v
            p["jobs"] += c["jobs"]
            p["intervals"] += c["intervals"]
        return out

    def dump(self, path: str) -> None:
        """Write the spans out (one JSON object per line) with self time."""
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start": s.start, "end": s.end, "self_s": st[s.id],
                    "jobs": s.jobs, **{k: round(v, 6) for k, v in s.counters.items()},
                }) + "\n")

