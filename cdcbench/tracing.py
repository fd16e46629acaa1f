"""Spans recorded by the benchmark around its calls into the engine.

A span is (id, name, start, end, parent, batch id). Spans live in memory
and are written out once, when the run ends. Each span also tags the Spark
jobs it starts with a job group of its own, so the stage metrics of those
jobs (task time, shuffle write, spill) can be read back per span from the
status store of Spark after the run; nothing is read while timing runs.

With tracing off, ``span`` does nothing, so the untraced run measures the
end-to-end figures without the py4j calls a job group costs.
"""

from __future__ import annotations

import json
import math
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self._sc = spark.sparkContext if spark is not None else None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.spans: list[dict] = []
        # set while warm-up work runs; its spans are kept but not measured
        self.warm = False

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch_id: int | None = None, parent: int | None = None,
             group: str | None = None):
        """Time the body as one span. ``parent`` defaults to the innermost
        open span of this thread; pass it for a span that runs on another
        thread than its cause (a foreachBatch callback under a stream).
        ``group`` names the span's job group (default: name#id)."""
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        group = group or f"{name}#{sid}"
        stack.append(sid)
        warm = self.warm
        t0 = time.perf_counter()
        try:
            with job_group(self._sc, group):
                yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent, "batch_id": batch_id, "group": group,
                     "warm": warm}
                )

    def stage_totals(self) -> dict[str, dict]:
        return stage_totals(self._sc) if self.enabled else {}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["id"]), **extra}, f)


@contextmanager
def job_group(sc, group: str):
    """Tag the Spark jobs the body starts with ``group``, then restore the
    caller's group: in a foreachBatch callback it is the stream's own,
    which its later jobs must keep."""
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        sc.setLocalProperty("spark.job.description", prev_desc)


def stage_totals(sc) -> dict[str, dict]:
    """Per job group: summed task run seconds, task CPU seconds, shuffle
    write MB and spill MB of every stage its jobs ran, read from the
    status store of Spark (skipped stages ran nothing)."""
    from py4j.protocol import Py4JJavaError

    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    out: dict[str, dict] = {}
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if not g.isDefined():
            continue
        tot = out.setdefault(g.get(), {"task_s": 0.0, "cpu_s": 0.0,
                                       "shuffle_write_mb": 0.0, "spill_mb": 0.0})
        ids = job.stageIds()
        for k in range(ids.size()):
            try:
                st = store.lastStageAttempt(ids.apply(k))
            except Py4JJavaError:
                continue  # skipped stage: never attempted
            tot["task_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            tot["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """A span's duration minus the part of its interval that its child
    spans cover (children may overlap each other; the union is removed)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) — a measured sample, never an
    interpolation between two."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs), max(1, math.ceil(q * len(xs)))) - 1])
