"""Spans around calls into the package, and Spark's counters per span.

Each span sets a Spark job group named after itself, so every job a call
launches carries the span's name.  Spans are kept in memory; after the
run, one read of the session's status REST endpoint (``uiWebUrl``) gives
the per-job and per-stage data that :func:`span_counters` attributes to
spans.  A disabled tracer costs nothing: ``span`` is an empty context.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time
import urllib.request
from dataclasses import asdict, dataclass, field
from datetime import datetime
from typing import Any, Iterator

#: Every traced call, as ``<layer>.<call>``.
CALLS = (
    "session.get_spark",
    "streaming.run_foreach_batch",
    "tiff.from_tiff_dir",
    "table_log.create_ome_table",
    "table_log.append_ome_table",
    "table_log.upsert_ome_table",
    "table_log.read_ome_table",
    "operators.describe",
    "operators.slice_images",
    "operators.plane_stats",
    "similarity.knn_join_candidates",
    "similarity.knn_join_lsh",
)

#: Counters reported for every call, as the median over its calls.
GENERIC = (
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("failed_tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("input_bytes", "B", "lower"),
    ("shuffle_bytes", "B", "lower"),
    ("spill_bytes", "B", "lower"),
)

#: Counters particular to one layer or call.
SPECIFIC = (
    ("streaming.trigger_gap_s", "s", "lower"),
    ("tiff.decode_ms_per_image", "ms", "lower"),
    ("table_log.create_ome_table.files_added", "count", "lower"),
    ("table_log.create_ome_table.files_removed", "count", "lower"),
    ("table_log.append_ome_table.files_added", "count", "lower"),
    ("table_log.append_ome_table.files_removed", "count", "lower"),
    ("table_log.upsert_ome_table.files_added", "count", "lower"),
    ("table_log.upsert_ome_table.files_removed", "count", "lower"),
    ("table_log.bytes_written_per_user_byte", "ratio", "lower"),
    ("table_log.checkpoints", "count", "higher"),
    ("table_log.read_ome_table.files_scanned_ratio", "ratio", "lower"),
    ("similarity.candidate_pairs", "count", "lower"),
    ("similarity.result_to_candidate_ratio", "ratio", "higher"),
    ("trace.overhead_ratio", "ratio", "lower"),
)


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """``(name, unit, better)`` of every per-layer metric, in report order."""
    return [
        (f"{call}.{name}", unit, better) for call in CALLS for name, unit, better in GENERIC
    ] + list(SPECIFIC)


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    #: what the call returned that later counters need (e.g. a version)
    result: Any = None
    counters: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans in memory; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, spark=None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        if name.split(".")[0] not in {c.split(".")[0] for c in CALLS}:
            raise ValueError(f"unknown layer in span name {name!r}")
        with self._lock:
            self._next_id += 1
            parent = self._stack[-1].span_id if self._stack else None
            s = Span(self._next_id, name, self.run_id, parent, 0.0)
            self._stack.append(s)
        sc = spark.sparkContext if spark is not None else None
        if sc is not None:
            # The job group is a thread-local property of the JVM thread
            # that runs the call; save and restore it so spans nest and
            # the streaming engine's own group survives its callbacks.
            s.group = f"perfbench-{s.span_id}:{name}"
            saved = (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
            )
            sc.setLocalProperty("spark.jobGroup.id", s.group)
            sc.setLocalProperty("spark.job.description", name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", saved[0])
                sc.setLocalProperty("spark.job.description", saved[1])
            with self._lock:
                self._stack.remove(s)
                self.spans.append(s)

    def collect(self, spark, timeout_s: float = 30.0) -> None:
        """Read jobs and stages from the status REST endpoint once the
        listener has caught up, and attach counters to every span."""
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        tracker = sc.statusTracker()
        groups = [s.group for s in self.spans if s.group]
        expected = {g: len(tracker.getJobIdsForGroup(g)) for g in groups}
        deadline = time.time() + timeout_s
        while True:
            jobs = _get_json(f"{base}/jobs")
            stages = _get_json(f"{base}/stages")
            seen: dict[str, int] = {}
            for j in jobs:
                seen[j.get("jobGroup")] = seen.get(j.get("jobGroup"), 0) + 1
            settled = all(j["status"] != "RUNNING" for j in jobs) and all(
                seen.get(g, 0) == n for g, n in expected.items()
            )
            if settled or time.time() > deadline:
                break
            time.sleep(0.2)
        if not settled:
            raise RuntimeError("Spark status endpoint did not settle; counters incomplete")
        span_counters(self.spans, jobs, stages)

    def by_call(self) -> dict[str, dict[str, float]]:
        """Median of each generic counter over the calls of each name."""
        names: dict[str, list[Span]] = {}
        for s in self.spans:
            names.setdefault(s.name, []).append(s)
        return {
            name: {
                key: float(statistics.median(s.counters[key] for s in spans))
                for key, _, _ in GENERIC
            }
            | {"calls": float(len(spans))}
            for name, spans in names.items()
        }

    def dump(self) -> list[dict[str, Any]]:
        return [asdict(s) for s in self.spans]


def _get_json(url: str) -> list[dict[str, Any]]:
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def parse_ts(ts: str) -> float:
    """Spark REST timestamp (``2026-01-02T03:04:05.678GMT``) → epoch s."""
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_counters(
    spans: list[Span], jobs: list[dict[str, Any]], stages: list[dict[str, Any]]
) -> None:
    """Attach the generic counters to each span, in place.

    A job belongs to the span whose group it carries.  A job with no
    span's group (the streaming engine runs its own jobs under its own
    group) belongs to the innermost span open when it was submitted.
    ``driver_s`` is the span's wall not covered by any job at all.
    """
    by_group = {s.group: s for s in spans if s.group}
    attempts: dict[int, list[dict[str, Any]]] = {}
    for st in stages:
        attempts.setdefault(st["stageId"], []).append(st)
    windows: list[tuple[float, float]] = []
    owned: dict[int, list[dict[str, Any]]] = {s.span_id: [] for s in spans}
    for j in jobs:
        if "submissionTime" not in j:
            continue
        sub = parse_ts(j["submissionTime"])
        end = parse_ts(j["completionTime"]) if "completionTime" in j else sub
        windows.append((sub, end))
        owner = by_group.get(j.get("jobGroup"))
        if owner is None:
            open_ = [s for s in spans if s.start <= sub <= s.end]
            owner = max(open_, key=lambda s: s.start, default=None)
        if owner is not None:
            owned[owner.span_id].append(j)
    for s in spans:
        counted: dict[tuple[int, int], dict[str, Any]] = {}
        for j in owned[s.span_id]:
            for sid in j.get("stageIds", []):
                for st in attempts.get(sid, []):
                    if st.get("status") != "SKIPPED":
                        counted[(sid, st.get("attemptId", 0))] = st
        sts = counted.values()
        wall = s.end - s.start
        s.counters = {
            "wall_s": wall,
            "driver_s": wall - _covered(windows, s.start, s.end),
            "jobs": float(len(owned[s.span_id])),
            "tasks": float(sum(st.get("numTasks", 0) for st in sts)),
            "failed_tasks": float(sum(st.get("numFailedTasks", 0) for st in sts)),
            "executor_run_s": sum(st.get("executorRunTime", 0) for st in sts) / 1000.0,
            "input_bytes": float(sum(st.get("inputBytes", 0) for st in sts)),
            "shuffle_bytes": float(sum(st.get("shuffleWriteBytes", 0) for st in sts)),
            "spill_bytes": float(sum(st.get("diskBytesSpilled", 0) for st in sts)),
        }


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start) - _covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }
