"""Spans around the engine's public calls, joined with Spark's own job and
stage records from its REST API.

Spans stay in memory. Spark jobs are attributed to spans by time window:
operations run one after another, so every job submitted inside an
operation's span belongs to it, including jobs started on helper threads
that carry no job group. A job goes to the innermost span open at its
submission time, and its stages to the first job that ran them.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# Conf for the benchmark's own session: keep every job and stage record
# so that nothing ages out of the REST API before it is read.
BENCH_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "200000",
    "spark.sql.ui.retainedExecutions": "10000",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.host": "127.0.0.1",
    "spark.driver.bindAddress": "127.0.0.1",
}

STAGE_SUMS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_mb": (("shuffleReadBytes", "shuffleWriteBytes"), 2**-20),
    "spill_mb": ("diskBytesSpilled", 2**-20),
    "input_mb": ("inputBytes", 2**-20),
    "output_mb": ("outputBytes", 2**-20),
}


def _epoch(stamp: str) -> float:
    """REST time stamps look like 2026-10-17T00:01:02.345GMT."""
    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkRest:
    """Reader of one application's records from the driver's REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as resp:
            return json.load(resp)

    def cached_mb(self) -> float:
        return sum(r["memoryUsed"] + r["diskUsed"] for r in self.get("storage/rdd")) / 2**20

    def settled_records(self) -> tuple[list, list]:
        """Jobs and stages once the listener has caught up: every job
        finished and the job count stable across two reads."""
        prev = -1
        for _ in range(50):
            jobs = self.get("jobs")
            if len(jobs) == prev and all("completionTime" in j for j in jobs):
                break
            prev = len(jobs)
            time.sleep(0.2)
        return jobs, self.get("stages")


class Tracer:
    """Records spans: name, layer, start, end and parent (wall-clock
    seconds, the clock Spark stamps jobs with)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0  # the tracer's own time inside traced regions

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "layer": layer, "start": time.time(), "end": None, "parent": parent}
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        if self._stack[-1] != idx:
            raise RuntimeError(f"span {self.spans[idx]['name']} closed out of order")
        self._stack.pop()
        self.spans[idx]["end"] = time.time()

    @contextmanager
    def span(self, name: str, layer: str):
        idx = self.open(name, layer)
        try:
            yield
        finally:
            self.close(idx)

    def wrap(self, fn, layer: str):
        def traced(*args, **kwargs):
            with self.span(fn.__name__, layer):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def own_time(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0


def _innermost(spans: list[dict], t: float) -> int | None:
    """Latest-opened span whose window holds `t` (1 ms slack for the
    millisecond REST stamps)."""
    best = None
    for i, s in enumerate(spans):
        if s["start"] - 1e-3 <= t <= s["end"] + 1e-3:
            best = i
    return best


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            total += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    return total + ((cur_hi - cur_lo) if cur_hi is not None else 0.0)


def layer_ledger(spans: list[dict], jobs: list[dict], stages: list[dict]) -> dict:
    """Per-layer totals, plus the attribution check.

    A layer's wall is the summed duration of its outermost spans; its
    driver time is that wall minus the union of the intervals of its own
    jobs and of nested spans of other layers."""
    stage_owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            stage_owner.setdefault(sid, job["jobId"])
    job_sums: dict[int, dict[str, float]] = {}
    for st in stages:
        if st["status"] == "SKIPPED":
            continue
        sums = job_sums.setdefault(stage_owner.get(st["stageId"], -1), {})
        for metric, (keys, scale) in STAGE_SUMS.items():
            keys = keys if isinstance(keys, tuple) else (keys,)
            sums[metric] = sums.get(metric, 0.0) + scale * sum(st.get(k, 0) for k in keys)

    def layer_of(i):
        return spans[i]["layer"]

    def outermost(i):
        p = spans[i]["parent"]
        return p is None or layer_of(p) != spans[i]["layer"]

    def top_of_layer(i):
        while not outermost(i):
            i = spans[i]["parent"]
        return i

    ledger: dict[str, dict[str, float]] = {}
    busy: dict[int, list[tuple[float, float]]] = {}  # outermost span -> intervals
    attributed = 0
    for job in jobs:
        t0 = _epoch(job["submissionTime"])
        t1 = _epoch(job["completionTime"]) if "completionTime" in job else t0
        owner = _innermost(spans, t0)
        if owner is None:
            continue
        attributed += 1
        row = ledger.setdefault(layer_of(owner), {})
        row["jobs"] = row.get("jobs", 0) + 1
        row["tasks"] = row.get("tasks", 0) + job["numCompletedTasks"]
        for metric, v in job_sums.get(job["jobId"], {}).items():
            row[metric] = row.get(metric, 0.0) + v
        busy.setdefault(top_of_layer(owner), []).append((t0, t1))
    for i, s in enumerate(spans):
        if s["parent"] is not None and outermost(i):
            busy.setdefault(top_of_layer(s["parent"]), []).append((s["start"], s["end"]))
    for i, s in enumerate(spans):
        row = ledger.setdefault(s["layer"], {})
        if s["name"] in ("build", "collect"):
            row[f"{s['name']}_s"] = row.get(f"{s['name']}_s", 0.0) + s["end"] - s["start"]
        if outermost(i):
            wall = s["end"] - s["start"]
            row["wall_s"] = row.get("wall_s", 0.0) + wall
            row["driver_s"] = row.get("driver_s", 0.0) + wall - _covered(
                busy.get(i, []), s["start"], s["end"]
            )
    ids = sorted(j["jobId"] for j in jobs)
    return {
        "layers": ledger,
        "jobs_total": len(jobs),
        "jobs_attributed": attributed,
        "jobs_retained_all": ids == list(range(len(ids))),
    }
