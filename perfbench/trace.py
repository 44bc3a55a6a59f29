"""Traced-run instruments: in-memory spans around the calls into each layer,
the Spark event-log parser, and the streaming progress listener.

Spans are recorded from the benchmark's own files by wrapping the public
functions of each layer (``Tracer.wrap``); nothing inside the program is
changed.  A span carries its name, start, end, parent span and request id.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from typing import Any, Optional

from perfbench.stats import self_time


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    request: Optional[str] = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Records spans for calls made while tracing is on for the calling
    thread (``set_request``)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[Any, str, Any]] = []

    # -- request context ----------------------------------------------------

    def set_request(self, request: Optional[str], traced: bool) -> None:
        self._local.request = request
        self._local.traced = traced

    def active(self) -> bool:
        return getattr(self._local, "traced", False)

    # -- spans ----------------------------------------------------------------

    def span(self, name: str, fn: Callable, *args, after: Optional[Callable] = None, **kwargs):
        """Run ``fn`` inside a span; ``after(span, result, args)`` may add
        attributes once the span has ended (its own cost is not timed)."""
        if not self.active():
            return fn(*args, **kwargs)
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        sp = Span(
            sid,
            name,
            time.perf_counter(),
            parent=parent.sid if parent else None,
            request=getattr(self._local, "request", None),
        )
        stack.append(sp)
        try:
            result = fn(*args, **kwargs)
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            with self._lock:
                self.spans.append(sp)
        if after is not None:
            after(sp, result, args)
        return result

    def patch(self, owner: Any, attr: str, make: Callable[[Callable], Callable]) -> None:
        """Replace ``owner.attr`` by ``make(original)`` until ``restore``."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner: Any, attr: str, name: str, after: Optional[Callable] = None) -> None:
        """Record a ``name`` span around every call of ``owner.attr``."""
        def make(orig: Callable) -> Callable:
            return lambda *a, **kw: self.span(name, orig, *a, after=after, **kw)

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- summaries --------------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, name: str, child_names: Optional[Iterable[str]] = None) -> list[float]:
        """Per-span self time of every ``name`` span: its duration minus the
        part covered by its direct children (or only the children whose
        name is in ``child_names``)."""
        kids: dict[int, list[Span]] = defaultdict(list)
        wanted = set(child_names) if child_names is not None else None
        for s in self.spans:
            if s.parent is not None and (wanted is None or s.name in wanted):
                kids[s.parent].append(s)
        return [
            self_time(s.start, s.end, [(c.start, c.end) for c in kids[s.sid]]) * 1e3
            for s in self.named(name)
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


# -- Spark event log ----------------------------------------------------------------

PY_TO_WORKER = "data sent to Python workers"
PY_FROM_WORKER = "data returned from Python workers"


def eventlog_conf(log_dir: str) -> dict[str, str]:
    """Session conf for an uncompressed, single-file event log."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> {props, stages}
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(lines: Iterable[str]) -> EventLog:
    """Jobs with their local properties, and per-task metrics, from the JSON
    lines of a Spark event log."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = {
                "props": ev.get("Properties") or {},
                "stages": list(ev.get("Stage IDs", [])),
            }
            for sid in ev.get("Stage IDs", []):
                log.stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            accumulables = (ev.get("Task Info") or {}).get("Accumulables", [])
            acc = {a.get("Name"): a.get("Update") for a in accumulables}
            log.tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    "records_read": (m.get("Input Metrics") or {}).get("Records Read", 0),
                    "py_to_worker": int(acc.get(PY_TO_WORKER) or 0),
                    "py_from_worker": int(acc.get(PY_FROM_WORKER) or 0),
                }
            )
    return log


def read_event_log(log_dir: str) -> EventLog:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return parse_event_log(fh)


def job_totals(log: EventLog, keep: Callable[[dict], bool]) -> dict[str, float]:
    """Sums over the jobs whose properties satisfy ``keep``."""
    jobs = {j for j, info in log.jobs.items() if keep(info["props"])}
    stages = {s for s, j in log.stage_job.items() if j in jobs}
    ran = {t["stage"] for t in log.tasks if t["stage"] in stages}  # skipped stages run no task
    out = {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": 0,
        "exec_run_s": 0.0,
        "exec_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "records_read": 0,
        "py_to_worker": 0,
        "py_from_worker": 0,
    }
    for t in log.tasks:
        if t["stage"] not in stages:
            continue
        out["tasks"] += 1
        out["exec_run_s"] += t["run_ms"] / 1e3
        out["exec_cpu_s"] += t["cpu_ns"] / 1e9
        out["gc_s"] += t["gc_ms"] / 1e3
        out["shuffle_read_bytes"] += t["shuffle_read"]
        out["shuffle_write_bytes"] += t["shuffle_write"]
        out["spill_bytes"] += t["spill"]
        out["records_read"] += t["records_read"]
        out["py_to_worker"] += t["py_to_worker"]
        out["py_from_worker"] += t["py_from_worker"]
    return out


def catalyst_phases(df) -> dict[str, float]:
    """analysis / optimization / planning ms from the query's
    ``QueryExecution.tracker()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- streaming progress -----------------------------------------------------------------


def progress_listener(sink: list):
    """A StreamingQueryListener that appends each micro-batch's progress
    (batchId, numInputRows, durationMs) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            sink.append(
                {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "duration_ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()


def await_progress(progress: list[dict], n: int, timeout: float = 60.0) -> None:
    """Wait until a ``progress_listener``, whose events arrive
    asynchronously, has delivered ``n`` non-empty micro-batches."""
    deadline = time.perf_counter() + timeout
    while sum(p["rows"] > 0 for p in progress) < n and time.perf_counter() < deadline:
        time.sleep(0.05)
