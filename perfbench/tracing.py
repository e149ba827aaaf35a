"""Spans and the two outside readers of Spark's own telemetry: the status
REST API (per-stage counters, attributed by job group: the one the
benchmark sets, or a streaming query's runId) and a
StreamingQueryListener (per micro-batch ``durationMs`` and state-operator
progress).

Spans are recorded on every run (a list append per op) and written to a
JSON-lines file only on a traced run.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql.streaming import StreamingQueryListener

# Spark-side counters summed per job group; each is reported per layer.
STAGE_COUNTERS = (
    "spark.jobs", "spark.tasks", "spark.task_busy_s", "spark.gc_s",
    "sources.input_bytes", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes",
)

# StreamingQueryProgress.durationMs components, summed per drain.
DURATION_KEYS = {
    "streaming.trigger_s": "triggerExecution",
    "streaming.add_batch_s": "addBatch",
    "streaming.get_batch_s": "getBatch",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


class Tracer:
    """In-memory spans: ``name``, ``start``, ``end``, the causing span's id
    as ``parent``, and free-form attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "name": name, **attrs}
        self.spans.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def duration(s: dict) -> float:
    return s["end"] - s["start"]


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress event and counts terminations."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._cv:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Block until ``n`` queries have reported termination; the
        listener bus delivers asynchronously, after ``awaitTermination``."""
        with self._cv:
            if not self._cv.wait_for(lambda: self.terminated >= n, timeout):
                raise TimeoutError(f"{self.terminated}/{n} streaming queries reported")

    def take(self) -> list[dict]:
        with self._cv:
            out, self.progress = self.progress, []
        return out


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_counters(spark) -> dict[str, dict[str, float]]:
    """Per job group: the STAGE_COUNTERS summed over its completed stages,
    read from the status REST API (UI must be enabled)."""
    sc = spark.sparkContext
    port = urlparse(sc.uiWebUrl).port
    api = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    # the status store is fed by the asynchronous listener bus: read until
    # two snapshots agree, so the last jobs' stages are in
    jobs, prev = None, -1
    for _ in range(20):
        jobs = _get(f"{api}/jobs")
        if len(jobs) == prev and all(j["status"] != "RUNNING" for j in jobs):
            break
        prev = len(jobs)
        time.sleep(0.25)
    stages = _get(f"{api}/stages")
    group_of: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        g = j.get("jobGroup") or ""
        out.setdefault(g, dict.fromkeys(STAGE_COUNTERS, 0.0))["spark.jobs"] += 1
        for sid in j["stageIds"]:
            group_of.setdefault(sid, g)
    for st in stages:
        if st["status"] != "COMPLETE":
            continue
        c = out.setdefault(group_of.get(st["stageId"], ""), dict.fromkeys(STAGE_COUNTERS, 0.0))
        c["spark.tasks"] += st["numCompleteTasks"]
        c["spark.task_busy_s"] += st["executorRunTime"] / 1000
        c["spark.gc_s"] += st["jvmGcTime"] / 1000
        c["sources.input_bytes"] += st["inputBytes"]
        c["spark.shuffle_write_bytes"] += st["shuffleWriteBytes"]
        c["spark.shuffle_read_bytes"] += st["shuffleReadBytes"]
        c["spark.spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


def sum_counters(groups: dict[str, dict[str, float]], keep) -> dict[str, float]:
    """STAGE_COUNTERS summed over the groups whose name satisfies ``keep``."""
    total = dict.fromkeys(STAGE_COUNTERS, 0.0)
    for g, c in groups.items():
        if keep(g):
            for k in STAGE_COUNTERS:
                total[k] += c[k]
    return total


def tail_percentile(values: list[float]) -> tuple[float, float]:
    """``(pct, value)``: the highest of the usual percentiles with at least
    ten samples beyond it; p50 when there are fewer than twenty samples."""
    xs = sorted(values)
    n = len(xs)
    pct = 50.0
    for p in (75.0, 90.0, 95.0, 99.0, 99.9):
        if n * (1 - p / 100) >= 10:
            pct = p
    return pct, xs[min(n - 1, int(n * pct / 100))]
