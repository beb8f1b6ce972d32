"""In-memory spans around the benchmark's calls into each layer, and
Spark job accounting read from the JVM status store.

Spans are recorded only in a traced run; an untraced run's ``span`` is a
no-op so end-to-end numbers carry no tracing cost. Job accounting adds
no Spark job: each timed call runs under its own job group, and the
status store (kept with ``spark.ui.enabled=false``) is read once after
the timed phase.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def next_op(self) -> int:
        self._op += 1
        return self._op

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        s = {"name": name, "start": time.perf_counter(), "end": None,
             "parent": parent, "op": op, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: duration minus the union of its children's
        intervals."""
        kids: dict[int, list[tuple]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - union_length(kids.get(i, []))
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s, st in zip(self.spans, selfs):
                f.write(json.dumps({**s, "self": st}) + "\n")


def union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class JobAccounting:
    """Job group per timed call; job intervals from the status store.

    ``job_run_s`` is the union of the group's job intervals, because
    composites run jobs concurrently; ``driver_gap_s`` is the call's
    wall time minus that union."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.calls: list[dict] = []  # name, group, wall

    @contextmanager
    def group(self, name: str):
        """Run the body under a fresh job group. The body may replace
        ``call["group"]`` when its jobs carry an id set elsewhere (a
        streaming query runs its batches under its run id)."""
        if not self.enabled:
            yield {}
            return
        call = {"name": name, "group": f"perfbench-{len(self.calls)}"}
        self.sc.setJobGroup(call["group"], name)
        t0 = time.time()
        try:
            yield call
        finally:
            call["wall"] = time.time() - t0
            self.calls.append(call)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def settle(self) -> dict[str, list[dict]]:
        """Read the status store once; per call name, a list of
        {wall, jobs, job_run_s, driver_gap_s}."""
        if not self.enabled:
            return {}
        jobs: dict[str, list[tuple]] = {}
        it = self.sc._jsc.sc().statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            sub, done = j.submissionTime(), j.completionTime()
            if g.isEmpty() or sub.isEmpty():
                continue
            end = done.get().getTime() if not done.isEmpty() else sub.get().getTime()
            jobs.setdefault(g.get(), []).append((sub.get().getTime() / 1e3, end / 1e3))
        out: dict[str, list[dict]] = {}
        for c in self.calls:
            iv = jobs.get(c["group"], [])
            run = union_length(iv)
            out.setdefault(c["name"], []).append({
                "wall": c["wall"], "jobs": len(iv), "job_run_s": run,
                "driver_gap_s": c["wall"] - run,
            })
        return out
