"""Tracing for the benchmark's traced run.

- ``Tracer`` records spans in memory (name, start, end, parent and a
  request id: one per pipeline round or per query) and tags the Spark
  jobs each span issues with ``setJobGroup(span id)``.
- ``ProgressListener`` captures Structured Streaming progress and maps
  each streaming run id to the span that started it: streaming jobs
  carry their query ``runId`` as job group, which overrides the
  caller's.
- ``parse_event_log`` reads Spark's uncompressed JSON event log and
  sums task metrics per job; ``attribute`` charges each job to a span.
- ``wrap`` installs a span around a public function of the engine,
  everywhere a module of the package bound it by name.

Spans are only recorded around calls into the engine's public entry
points, from the benchmark's own files; nothing inside the engine
changes.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "lakehouse_alchemy_bronze_to_gold_pipeline_spark"


@dataclass
class Span:
    sid: str
    name: str
    request: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    never touches the job group."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    request: str = ""
    sc: object = None  # the SparkContext whose job group spans set
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            f"s{len(self.spans)}", name, self.request,
            parent.sid if parent else None, time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.sid, s.name)

    def top(self, sid: str) -> Span:
        """The outermost ancestor of span ``sid``."""
        by_id = {s.sid: s for s in self.spans}
        s = by_id[sid]
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    def innermost_at(self, t: float) -> Span | None:
        """Deepest span open at wall time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if best is None or s.start >= best.start:
                    best = s
        return best

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def wrap(tracer: Tracer, module: str, attr: str, span_name: str) -> None:
    """Record a span around every call of ``module.attr``: the original
    is replaced in its module and in each package module that imported
    it by name."""
    mod = sys.modules[module]
    original = getattr(mod, attr)

    def traced(*args, **kwargs):
        with tracer.span(span_name):
            return original(*args, **kwargs)

    for name, m in list(sys.modules.items()):
        if name.startswith(PACKAGE) and m is not None:
            for a, v in list(vars(m).items()):
                if v is original:
                    setattr(m, a, traced)


class ProgressListener(StreamingQueryListener):
    """Streaming progress, plus the run id -> start time map that lets
    ``attribute`` charge streaming jobs to the span that started them."""

    def __init__(self):
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        self.started[str(event.runId)] = _iso_seconds(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs or {}),
                "state_rows": sum(o.numRowsTotal for o in p.stateOperators),
                "state_bytes": sum(o.memoryUsedBytes for o in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _iso_seconds(ts: str) -> float:
    """Epoch seconds of Spark's ISO-8601 UTC event timestamp."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -------------------------------------------------------------- event log

TASK_FIELDS = (
    "executor_cpu_s",
    "task_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "input_bytes",
)


def event_log_files(root: str) -> list[list[str]]:
    """Per application, its event-log files in order: Spark writes
    ``eventlog_v2_<app>/events_<n>_<app>`` (or one plain file)."""
    apps = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            apps.append([os.path.join(path, f) for f in parts])
        else:
            apps.append([path])
    return apps


def parse_event_log(root: str) -> list[dict]:
    """Jobs of every application logged under ``root``, each with its
    job group, submission time (epoch s) and the task metrics of its
    stages."""
    out = []
    for files in event_log_files(root):
        out += _parse_app(files)
    return out


def _lines(files: list[str]):
    for path in files:
        with open(path) as fh:
            yield from fh


def _parse_app(files: list[str]) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "job": jid,
                "group": props.get("spark.jobGroup.id"),
                "submitted": ev.get("Submission Time", 0) / 1000.0,
                "tasks": 0,
                **{f: 0.0 for f in TASK_FIELDS},
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job["tasks"] += 1
            job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            job["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def attribute(jobs: list[dict], tracer: Tracer, listener: ProgressListener) -> None:
    """Set ``job["span"]`` to the id of the span that issued each job:
    by job group when it is a span id, through the streaming run id's
    start time when it is a run id, else by submission time."""
    ids = {s.sid for s in tracer.spans}
    for j in jobs:
        g = j["group"]
        if g in ids:
            j["span"] = g
            continue
        t = listener.started.get(g, j["submitted"])
        s = tracer.innermost_at(t)
        j["span"] = s.sid if s else None
