"""Tracing for the per-layer metrics, from outside the package.

`Tracer.wrap` replaces a public function that the package resolves at
call time (``from ..cli import _write_event`` inside the caller) with a
recording wrapper, so the package itself carries no spans.  Each span
records name, start, end, thread, parent span and run id.  The run id
comes from the call's arguments where it carries one; otherwise the
span inherits the id last seen on its thread (spans nest by thread and
time).  Spans stay in memory until the run ends.

`ProgressCollector` keeps every `StreamingQuery.recentProgress` entry
of the deployed engines (Spark keeps only the last 100 per query), and
`stage_metrics` reads per-job-group stage shuffle and spill from the
Spark UI's status REST API.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from urllib.parse import urlparse
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    thread: int
    parent: int | None
    run_id: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str, run_id_of=None) -> None:
        """Record a span around every call of ``owner.attr``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            rid = run_id_of(args, kwargs) if run_id_of else None
            with tracer.span(name, rid):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def span(self, name: str, run_id: str | None = None):
        return _SpanCtx(self, name, run_id)

    def ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1000.0 for s in self.spans if s.name == name]

    def total_s(self, name: str) -> float | None:
        """Summed span time; None when the function was never called."""
        ts = [s.end - s.start for s in self.spans if s.name == name]
        return sum(ts) if ts else None

    def by_run(self, name: str) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for s in self.spans:
            if s.name == name and s.run_id is not None:
                out.setdefault(s.run_id, []).append(s)
        for v in out.values():
            v.sort(key=lambda s: s.start)
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, run_id: str | None):
        self.tracer, self.name, self.run_id = tracer, name, run_id

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        stack = t._stack()
        self.parent = stack[-1] if stack else None
        if self.run_id is None:
            self.run_id = getattr(t._local, "run_id", None)
        else:
            t._local.run_id = self.run_id
        self.id = next(t._ids)
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        span = Span(self.id, self.name, self.start, end,
                    threading.get_ident(), self.parent, self.run_id)
        with t._lock:
            t.spans.append(span)
        return False


class ProgressCollector:
    """Polls `recentProgress` of the given queries and keeps every batch
    that started after `start()`, once, keyed by (query id, batch id)."""

    def __init__(self, queries_fn, period: float = 1.0):
        self.queries_fn = queries_fn
        self.period = period
        self.batches: dict[tuple[str, int], dict] = {}
        self._floor: dict[str, int] = {}  # last batch id before start()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-progress")

    def _progress(self) -> list[dict]:
        out = []
        for q in self.queries_fn():
            try:
                out.extend(q.recentProgress)
            except Exception:  # noqa: BLE001 — a stopped query has no progress
                pass
        return out

    def poll(self) -> None:
        for p in self._progress():
            if p["batchId"] > self._floor.get(p["id"], -1):
                self.batches.setdefault((p["id"], p["batchId"]), p)

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.poll()

    def start(self) -> "ProgressCollector":
        for p in self._progress():
            self._floor[p["id"]] = max(self._floor.get(p["id"], -1), p["batchId"])
        self._thread.start()
        return self

    def stop(self) -> list[dict]:
        self._stop.set()
        self._thread.join()
        self.poll()
        return list(self.batches.values())


def stage_metrics(spark, groups: list[str]) -> dict[str, dict]:
    """Shuffle and spill MB and job count per job group, from the
    status REST API (`/api/v1/applications/<id>/{jobs,stages}`).  A
    group without jobs, or without the REST API, reads None."""
    sc = spark.sparkContext
    out = {g: {"jobs": len(sc.statusTracker().getJobIdsForGroup(g)) or None,
               "shuffle_mb": None, "spill_mb": None} for g in groups}
    if not sc.uiWebUrl:
        return out  # no UI: shuffle and spill stay unmeasured
    # The UI listens on all interfaces; reach it over loopback.
    port = urlparse(sc.uiWebUrl).port
    app = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(app + path, timeout=30) as r:
            return json.loads(r.read())

    stage_group: dict[int, str] = {}
    for job in get("/jobs"):
        g = job.get("jobGroup")
        if g in out:
            for sid in job.get("stageIds", []):
                stage_group[sid] = g
            out[g]["shuffle_mb"] = out[g]["spill_mb"] = 0.0
    for st in get("/stages?status=complete"):
        g = stage_group.get(st["stageId"])
        if g is None:
            continue
        out[g]["shuffle_mb"] += (st.get("shuffleReadBytes", 0)
                                 + st.get("shuffleWriteBytes", 0)) / 2**20
        out[g]["spill_mb"] += (st.get("memoryBytesSpilled", 0)
                               + st.get("diskBytesSpilled", 0)) / 2**20
    return out
