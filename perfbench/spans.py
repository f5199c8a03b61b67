"""Spans around layer calls, each carrying a Spark status-store difference.

The tracer lives in the benchmark, outside the package: workloads wrap their
calls into a module's public functions in ``Tracer.span`` and force
materialization at the boundary with ``Tracer.materialize``. Every span takes
one snapshot of Spark's own status store (``sc.statusStore()``, populated with
the UI disabled) when it opens and one when it closes; the difference is the
work Spark did inside the span: jobs, stages, tasks, executor run time,
shuffle bytes, spill, GC time and failed tasks.

``NullTracer`` is the plain-mode stand-in: spans record nothing and
``materialize`` leaves the plan untouched, so untraced runs execute exactly
what a user's call would.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

# per-stage StageData fields summed by a snapshot difference
STAGE_FIELDS = (
    "numCompleteTasks",
    "numFailedTasks",
    "executorRunTime",
    "jvmGcTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


@dataclass
class Snapshot:
    """What the status store held at one instant.

    ``jobs``: job id -> status; ``stages``: ``"stageId:attemptId"`` -> status
    plus the ``STAGE_FIELDS`` counters.
    """

    jobs: dict[int, str] = field(default_factory=dict)
    stages: dict[str, dict] = field(default_factory=dict)


def diff(before: Snapshot, after: Snapshot) -> dict:
    """Work the status store recorded between two snapshots.

    A stage attempt counts when it is new in ``after`` or its counters grew,
    and was not skipped (a skipped stage reuses an earlier shuffle and runs
    no task). Counters are the growth of each field, so a stage that was
    already running at ``before`` contributes only what it did since.
    """
    out = {k: 0 for k in STAGE_FIELDS}
    out["jobs"] = sum(1 for j in after.jobs if j not in before.jobs)
    out["stages"] = 0
    for key, st in after.stages.items():
        if st.get("status") == "SKIPPED":
            continue
        prev = before.stages.get(key)
        grew = False
        for f in STAGE_FIELDS:
            d = st.get(f, 0) - (prev.get(f, 0) if prev else 0)
            out[f] += d
            grew = grew or d != 0
        if prev is None or grew:
            out["stages"] += 1
    out["tasks"] = out["numCompleteTasks"] + out["numFailedTasks"]
    return out


class StatusStore:
    """Reads ``sc.statusStore()`` through Jackson, one JVM call per list."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)
        self._qs = getattr(self._store, "stageList$default$4")()
        self._ts = getattr(self._store, "stageList$default$5")()

    def snapshot(self) -> Snapshot:
        # the status listener runs on Spark's event bus; drain it so stages
        # that finished before this call are already in the store
        self._jsc.listenerBus().waitUntilEmpty(30_000)
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._qs, self._ts)
            )
        )
        return Snapshot(
            jobs={j["jobId"]: j["status"] for j in jobs},
            stages={
                f"{s['stageId']}:{s['attemptId']}": {
                    "status": s["status"],
                    **{f: s.get(f) or 0 for f in STAGE_FIELDS},
                }
                for s in stages
            },
        )

    def failed_tasks(self) -> int:
        ex = json.loads(self._mapper.writeValueAsString(self._store.executorList(True)))
        return sum(e["failedTasks"] for e in ex)


@dataclass
class Span:
    name: str
    layer: str
    run_id: str
    start: float
    end: float = 0.0
    id: int = 0
    parent: int | None = None
    counts: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    def count(self, key: str, value) -> None:
        self.counts[key] = value


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its direct
    children among ``spans`` cover (children may overlap each other; the
    union counts once), and minus the tracer's own snapshot time recorded on
    it as ``counts["snapshot_s"]``."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = []
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out.append(s.duration - covered - s.counts.get("snapshot_s", 0.0))
    return out


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans as JSON lines."""

    enabled = True

    def __init__(self, spark) -> None:
        self.store = StatusStore(spark)
        self.spans: list[Span] = []
        self.snapshot_s = 0.0
        self._stack: list[int] = []
        self._held: list = []
        self.run_id = ""

    def _snap(self) -> Snapshot:
        t = time.perf_counter()
        snap = self.store.snapshot()
        self.snapshot_s += time.perf_counter() - t
        return snap

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        t0 = time.perf_counter()
        before = self._snap()
        sp = Span(name, layer, self.run_id, time.perf_counter(), id=len(self.spans),
                  parent=self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.spark = diff(before, self._snap())
            if sp.parent is not None:
                # the parent's interval holds this span's two snapshots;
                # self time leaves them out
                parent = self.spans[sp.parent].counts
                parent["snapshot_s"] = (
                    parent.get("snapshot_s", 0.0)
                    + (sp.start - t0) + (time.perf_counter() - sp.end)
                )

    def add(self, span: Span) -> None:
        """Record a span timed elsewhere (no status-store difference)."""
        span.id = len(self.spans)
        self.spans.append(span)

    def materialize(self, df):
        """Run ``df`` to completion now and keep it, so the next layer's span
        reads it instead of recomputing it. The row count lands on the open
        span as ``rows``."""
        from pyspark.storagelevel import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        rows = df.count()
        if self._stack:
            self.spans[self._stack[-1]].count("rows", rows)
        self._held.append(df)
        return df

    def release(self) -> None:
        for df in self._held:
            df.unpersist()
        self._held.clear()

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "layer": s.layer, "run_id": s.run_id,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "self_s": st[i], "counts": s.counts, "spark": s.spark,
                }) + "\n")


class NullTracer:
    """Plain mode: no spans, no snapshots, no extra materialization."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield Span(name, layer, "", 0.0)

    def materialize(self, df):
        return df

    def release(self) -> None:
        pass
