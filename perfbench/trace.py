"""In-memory span recorder for the traced run.

A span is (id, parent, name, start, end, attrs) with wall-clock epoch
seconds, so spans line up with the Spark event log's job timestamps.
Every span of one run shares the run id. When a Spark session is
attached, entering a span labels the calling thread's jobs with the
job group ``pb:<run_id>:<span_id>``, and leaving it restores the
parent's group, so each Spark job in the event log maps to exactly one
span. Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def group_id(self, span_id: int) -> str:
        return f"pb:{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self.group_id(span_id),
                           self.spans[span_id]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "run_id": self.run_id, "start": time.time(),
               "end": None, "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def write(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": st[s["id"]]}) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length(
            (max(c["start"], lo), min(c["end"], hi))
            for c in children.get(s["id"], []) if c["end"] > lo and c["start"] < hi)
        out[s["id"]] = (hi - lo) - covered
    return out


def subtree_ids(spans: list[dict], root: int) -> set[int]:
    """Ids of ``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out
