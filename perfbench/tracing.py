"""Spans around the benchmark's calls into the engine, plus per-stage
metrics from the Spark event log, attributed to those spans.

A span records (id, name, op, parent, start, end) in memory; the list is
written out once, when the run ends. While a span is open the Spark job
group is set to ``pb<span id>``, so every job the call submits carries
the span's id into the event log and its stages can be summed per span.
A disabled tracer records nothing and never touches the job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

#: event-log accumulables summed per span, by output key
_STAGE_SUMS = {
    "shuffle_write_bytes": "internal.metrics.shuffle.write.bytesWritten",
    "spill_bytes": "internal.metrics.diskBytesSpilled",
    "executor_run_ms": "internal.metrics.executorRunTime",
    "input_bytes": "internal.metrics.input.bytesRead",
}


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"pb{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"pb{self._stack[-1]}", "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def stage_metrics(log_dir: str) -> dict[int, dict]:
    """Per span id: jobs, completed stages, their tasks, and the summed
    ``_STAGE_SUMS`` accumulables, read from the one event log in
    ``log_dir`` (written when the session stops)."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def entry(sid: int) -> dict:
        return out.setdefault(
            sid, {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in _STAGE_SUMS}}
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                if not group.startswith("pb"):
                    continue
                sid = int(group[2:])
                entry(sid)["jobs"] += 1
                for stage in ev.get("Stage IDs", []):
                    stage_span[stage] = sid
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = stage_span.get(info["Stage ID"])
                if sid is None:
                    continue
                m = entry(sid)
                m["stages"] += 1
                m["tasks"] += info.get("Number of Tasks", 0)
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}
                for key, name in _STAGE_SUMS.items():
                    try:
                        m[key] += float(acc.get(name) or 0)
                    except (TypeError, ValueError):
                        pass
    return out


def span_totals(metrics: dict[int, dict], spans: list[dict], roots: list[dict]) -> dict:
    """Stage metrics summed over the ``roots`` spans and their descendants."""
    ids = {s["id"] for s in roots}
    for s in spans:  # in start order, so a parent precedes its children
        if s["parent"] in ids:
            ids.add(s["id"])
    total = {"jobs": 0, "stages": 0, "tasks": 0, **{k: 0.0 for k in _STAGE_SUMS}}
    for sid in ids:
        for k, v in metrics.get(sid, {}).items():
            total[k] += v
    return total
