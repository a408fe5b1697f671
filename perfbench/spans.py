"""Spans around calls into the library's layers, and their attribution
to Spark jobs, stages and tasks through the event log.

A span records (name, layer, start, end, parent, request).  Spans live
in memory and are written out once, when the run ends.  Each span sets
its own Spark job group, so every job the span's call submits carries
the span id in the event log; :func:`layer_metrics` joins the two.

With tracing off :class:`Tracer` still yields from ``span`` but records
nothing and touches no Spark state, so the untraced run measures the
library alone.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "sources",
    "functions.timeutil",
    "operators.keywords",
    "operators.stats",
    "operators.wordfreq",
    "operators.textquality",
    "operators.pii",
    "operators.dedup",
    "operators.curation",
    "operators.search",
    "operators.similarity",
    "streaming.ingest",
)
LAYER_FIELDS = (
    "calls", "self_s", "driver_s", "jobs", "tasks", "task_s", "task_wait_s",
    "input_mb", "shuffle_write_mb", "failed",
)
EXTRA_COUNTERS = (
    "operators.dedup.candidate_pairs",
    "operators.dedup.verified_pairs",
    "operators.dedup.verify_yield",
    "operators.search.index_files",
    "streaming.ingest.bytes_written_mb",
    "materialize.tracked",
    "session.start_s",
    "session.gc_s",
)
GROUP_PREFIX = "pb-span-"


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in BENCHMARK.json order."""
    names = [f"{layer}.{f}" for layer in LAYERS for f in LAYER_FIELDS]
    return names + list(EXTRA_COUNTERS)


def per_layer_unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("verify_yield"):
        return "ratio"
    return "count"


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank percentile `q` (0-100), or None when fewer than ten
    samples lie beyond it.  The median is always reported; p90 needs at
    least 100 samples, p99 at least 1000."""
    n = len(samples)
    if n == 0:
        return None
    if q != 50 and n * (100 - q) / 100 < 10:
        return None
    s = sorted(samples)
    if q == 50:
        mid = n // 2
        return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2
    rank = max(1, -(-n * q // 100))  # ceil(n*q/100)
    return s[int(rank) - 1]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    failed: bool = False
    tracked: int = 0  # materialize.n_tracked() right after the call


class Tracer:
    """Collects spans; sets one Spark job group per span while tracing."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self._sc = spark.sparkContext if (spark is not None and enabled) else None
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.counters: dict[str, float] = {}

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def request(self, rid: str):
        prev = getattr(self._local, "request", None)
        self._local.request = rid
        try:
            yield
        finally:
            self._local.request = prev

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        from database_per_keyword_analysis_spark import materialize

        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
        sp = Span(
            sid, name, layer, time.time(),
            parent=stack[-1].sid if stack else None,
            request=getattr(self._local, "request", None),
        )
        stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.time()
            sp.tracked = materialize.n_tracked()
            stack.pop()
            if self._sc is not None:
                if stack:
                    self._sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1].sid}", stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(sp)

    def count(self, name: str, value: float) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0.0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"spans": [asdict(s) for s in self.spans], "counters": self.counters},
                fh,
            )


# ---------------------------------------------------------------------------
# interval arithmetic
# ---------------------------------------------------------------------------


def merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return [(a, b) for a, b in out]


def subtract(base: list[tuple[float, float]], cut: list[tuple[float, float]]):
    """`base` intervals minus the union of `cut` (both any order)."""
    cut = merge(cut)
    out = []
    for lo, hi in merge(base):
        cur = lo
        for clo, chi in cut:
            if chi <= cur or clo >= hi:
                continue
            if clo > cur:
                out.append((cur, clo))
            cur = max(cur, chi)
        if cur < hi:
            out.append((cur, hi))
    return out


def length(intervals) -> float:
    return sum(hi - lo for lo, hi in intervals)


def self_intervals(spans: list[Span]) -> dict[int, list[tuple[float, float]]]:
    """Each span's interval minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: subtract([(s.start, s.end)], kids.get(s.sid, [])) for s in spans}


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> group,start,end
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_submit: dict[tuple[int, int], float] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(lines) -> EventLog:
    """Jobs, stages and task metrics from Spark's JSON event log (one
    event per line).  Times stay in the log's epoch milliseconds."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"],
                "end": None,
            }
            for sid in ev.get("Stage IDs", []):
                log.stage_group.setdefault(sid, props.get("spark.jobGroup.id"))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            if info.get("Submission Time") is not None:
                log.stage_submit[key] = info["Submission Time"]
            if props.get("spark.jobGroup.id") is not None:
                log.stage_group[info["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            log.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "attempt": ev.get("Stage Attempt ID", 0),
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "failed": (ev.get("Task End Reason") or {}).get("Reason")
                    != "Success",
                }
            )
    return log


def span_id_of(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def layer_metrics(spans: list[Span], log: EventLog) -> dict[str, float]:
    """Aggregate spans and their attributed jobs/tasks into the
    `<layer>.<field>` metrics; layers never called read 0."""
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    by_id = {s.sid: s for s in spans}
    selfs = self_intervals(spans)
    jobs_of: dict[int, list[tuple[float, float]]] = {}
    for job in log.jobs.values():
        sid = span_id_of(job["group"])
        if sid in by_id and job["end"] is not None:
            jobs_of.setdefault(sid, []).append((job["start"] / 1e3, job["end"] / 1e3))
    for s in spans:
        if s.layer not in LAYERS:
            continue
        pre = s.layer + "."
        out[pre + "calls"] += 1
        out[pre + "self_s"] += length(selfs[s.sid])
        out[pre + "driver_s"] += length(subtract(selfs[s.sid], jobs_of.get(s.sid, [])))
        out[pre + "jobs"] += len(jobs_of.get(s.sid, []))
        out[pre + "failed"] += int(s.failed)
    for t in log.tasks:
        sid = span_id_of(log.stage_group.get(t["stage"]))
        s = by_id.get(sid)
        if s is None or s.layer not in LAYERS:
            continue
        pre = s.layer + "."
        out[pre + "tasks"] += 1
        out[pre + "task_s"] += t["run_ms"] / 1e3
        sub = log.stage_submit.get((t["stage"], t["attempt"]))
        if sub is not None:
            out[pre + "task_wait_s"] += max(0.0, (t["launch"] - sub) / 1e3)
        out[pre + "input_mb"] += t["input_bytes"] / 1e6
        out[pre + "shuffle_write_mb"] += t["shuffle_write_bytes"] / 1e6
        out[pre + "failed"] += int(t["failed"])
    return out


def unattributed_jobs(log: EventLog, spans: list[Span]) -> int:
    ids = {s.sid for s in spans}
    return sum(1 for j in log.jobs.values() if span_id_of(j["group"]) not in ids)


def gc_seconds(log: EventLog) -> float:
    return sum(t["gc_ms"] for t in log.tasks) / 1e3
