"""In-memory spans around the benchmark's own calls into each layer.

A span is (id, name, start, end, parent, workload, run id). Spans are kept
in a list while the run goes and written out as JSON once it ends, so the
timed region pays for two ``time.time()`` calls and one list append per
span. When a Spark context is given, every span also tags the Spark jobs
it launches with its own job group, which is how ``statusstore`` later
attributes task and SQL-node metrics to the span that caused them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str, run_id: str) -> None:
        self.workload = workload
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None

    def tag_jobs(self, spark_context) -> None:
        """From now on, tag each span's Spark jobs with the span's job group,
        starting with the innermost span open now."""
        self._sc = spark_context
        if self._stack:
            span = self.spans[self._stack[-1]]
            spark_context.setJobGroup(self.job_group(span["id"]), span["name"])

    @staticmethod
    def job_group(span_id: int) -> str:
        return f"perfbench-{span_id}"

    @contextmanager
    def span(self, name: str):
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "run_id": self.run_id,
            "start": None,
            "end": None,
        }
        self.spans.append(span)
        outer_group = None
        if self._sc is not None:
            outer_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(self.job_group(span["id"]), name)
        self._stack.append(span["id"])
        span["start"] = time.time()
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", outer_group)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name)]

    def subtree(self, span_id: int) -> list[dict]:
        """The span and every span nested in it."""
        ids = {span_id}
        for s in self.spans:  # a child always comes after its parent
            if s["parent"] in ids:
                ids.add(s["id"])
        return [s for s in self.spans if s["id"] in ids]

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = covered_seconds(
                [(c["start"], c["end"]) for c in children.get(s["id"], []) if c["end"]],
                s["start"],
                s["end"],
            )
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def write(self, path: str) -> None:
        self_time = self.self_times()
        rows = [dict(s, self_s=self_time.get(s["id"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


def covered_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_lo = cur_hi = None
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
