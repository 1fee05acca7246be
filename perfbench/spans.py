"""Spans around layer calls, with Spark status-store deltas.

A :class:`Tracer` records one span per layer call: layer, name, start,
end, parent span, run id and thread.  With tracing on, each span also
carries the difference of Spark's own status-store counters (jobs,
stages, tasks, executor run/CPU/GC time, shuffle/spill/input/output bytes)
between its start and end, restricted to the span thread's job group
so that concurrent threads are attributed separately.  Spans are kept
in memory and written out once, at the end of the run.

With tracing off every call is a no-op, so the untraced run pays
nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "outputBytes",
    "outputRecords",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "shuffleWriteRecords",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)
COUNTERS = ("jobs", "stages") + STAGE_FIELDS


class StatusStore:
    """Snapshots of the driver's AppStatusStore, read as JSON in one
    gateway call per list."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._lock = threading.Lock()

    def snapshot(self) -> dict:
        """{'jobs': {job_id: group}, 'stages': {(id, attempt): (group, counters)}}"""
        with self._lock:
            self._sc.listenerBus().waitUntilEmpty(2000)
            store = self._sc.statusStore()
            jobs = json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
            stages = json.loads(
                self._mapper.writeValueAsString(
                    store.stageList(None, False, False, self._no_quantiles, None)
                )
            )
        job_group = {j["jobId"]: j.get("jobGroup") for j in jobs}
        stage_group = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for s in j["stageIds"]:
                stage_group.setdefault(s, j.get("jobGroup"))
        return {
            "jobs": job_group,
            "stages": {
                (s["stageId"], s["attemptId"]): (
                    stage_group.get(s["stageId"]),
                    tuple(s.get(f) or 0 for f in STAGE_FIELDS),
                )
                for s in stages
            },
        }


def delta(before: dict, after: dict, group: str | None) -> dict:
    """Counter differences between two snapshots for one job group
    (``None`` = every group); ``stages`` counts stage attempts that
    appeared in between."""
    out = dict.fromkeys(COUNTERS, 0)
    out["jobs"] = sum(
        1 for j, g in after["jobs"].items()
        if j not in before["jobs"] and (group is None or g == group)
    )
    for key, (g, vals) in after["stages"].items():
        if group is not None and g != group:
            continue
        out["stages"] += key not in before["stages"]
        old = before["stages"].get(key, (g, (0,) * len(STAGE_FIELDS)))[1]
        for f, a, b in zip(STAGE_FIELDS, vals, old):
            out[f] += a - b
    return out


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._store: StatusStore | None = None
        self._next_id = 0
        self._lock = threading.Lock()

    def attach(self, spark) -> None:
        if self.enabled:
            self._store = StatusStore(spark)

    def set_group(self, spark, group: str) -> None:
        """Tag this thread's Spark jobs (used for per-thread deltas)."""
        self._local.group = group
        spark.sparkContext.setJobGroup(group, group)

    @contextmanager
    def span(self, layer: str, name: str | None = None, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        group = getattr(self._local, "group", None)
        before = self._store.snapshot() if self._store else None
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "thread": threading.current_thread().name,
            "layer": layer,
            "name": name or layer,
            "attrs": attrs,
        }
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self._store:
                rec["counters"] = delta(before, self._store.snapshot(), group)
            with self._lock:
                self.spans.append(rec)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part covered by its child spans
    (children of one span run in its thread, so they do not overlap)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def self_counters(spans: list[dict]) -> dict[int, dict]:
    """Span id → its counters minus those of its children."""
    out = {s["id"]: dict(s.get("counters") or dict.fromkeys(COUNTERS, 0)) for s in spans}
    for s in spans:
        if s["parent"] is not None and s.get("counters"):
            for k, v in s["counters"].items():
                out[s["parent"]][k] -= v
    return out
