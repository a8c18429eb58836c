"""In-memory spans around the benchmark's calls into each layer, plus Spark
stage metrics attributed through job groups the tracer itself sets.

A span records name, start, end, parent and thread; spans are kept in a
list and written out once, when the run ends. While a span is open on a
thread, every Spark job that thread launches carries the span's job group
(`pb-<span id>`); `InheritableThread`s started inside it (the sink's
quarantine writer) inherit the group. Stage metrics come from Spark's
monitoring REST API on the driver's own UI port, read after the last job.

A disabled tracer hands out no-op spans and sets no job group, so the
untraced run pays nothing but a function call per boundary.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

#: summed per job group: name -> (stage field of the REST API, scale)
_STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "input_records": ("inputRecords", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


class Span(dict):
    @property
    def duration(self) -> float:
        return self["end"] - self["start"]


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self.own_s = 0.0  # time spent in tracer bookkeeping

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.monotonic()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            s = Span(id=sid, name=name, parent=stack[-1]["id"] if stack else None,
                     thread=threading.get_ident(), start=0.0, end=0.0, **attrs)
            self.spans.append(s)
        prev_group = None
        if self._sc is not None:
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"pb-{sid}")
        stack.append(s)
        self.own_s += time.monotonic() - t_in
        s["start"] = time.monotonic()
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            t_out = time.monotonic()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.own_s += time.monotonic() - t_out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s["name"] == name and s["end"]]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span["start"]), min(e, span["end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def descendants(self, span: Span) -> list[int]:
        kids: dict[int, list[int]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s["id"])
        out, todo = [], [span["id"]]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(kids[i])
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics(spark) -> dict[str, dict]:
    """Per job group: job count and summed stage metrics of every stage
    its jobs ran (skipped stages carry zeros)."""
    sc = spark.sparkContext
    deadline = time.monotonic() + 30
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.2)
    time.sleep(1.0)  # let the listener bus deliver the last stage events
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    by_stage: dict[int, list[dict]] = defaultdict(list)  # one entry per attempt
    for s in _get(f"{base}/stages"):
        by_stage[s["stageId"]].append(s)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for j in _get(f"{base}/jobs"):
        g = j.get("jobGroup")
        if not g:
            continue
        out[g]["jobs"] += 1
        for sid in j.get("stageIds", []):
            for s in by_stage.get(sid, []):
                for k, (field, scale) in _STAGE_FIELDS.items():
                    out[g][k] += s.get(field, 0) * scale
    return {g: dict(v) for g, v in out.items()}


def group_sum(metrics: dict[str, dict], span_ids: list[int], key: str) -> float:
    return sum(metrics.get(f"pb-{i}", {}).get(key, 0.0) for i in span_ids)
