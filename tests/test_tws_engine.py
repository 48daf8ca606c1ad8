"""The streaming engine's transformWithStateInPandas processor
(`streaming/engine.py: WFRunFoldProcessor`).

The processor's SEMANTICS are proven without Spark via a fake
StatefulProcessorHandle driving `handleInputRows` /
`handleExpiredTimer` directly, against the sequential fold
(`engine.fold.process_event`) as the reference; the streaming tests
at the end run it under the real runtime (RocksDB state store,
native timers)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pandas as pd

from old_original_java_little_horse_spark.engine.batch import WF_EVENT_SCHEMA
from old_original_java_little_horse_spark.engine.batch_queries import (
    pipeline_executor, pipeline_spec,
)
from old_original_java_little_horse_spark.engine.fold import process_event
from old_original_java_little_horse_spark.operators.run_index import doc_aliases
from old_original_java_little_horse_spark.sdk.builder import Workflow
from old_original_java_little_horse_spark.streaming.engine import (
    WFRunFoldProcessor, emit_ctx_rows, index_diff_rows, prepare_events,
    snapshot_row,
)


# -- fake state plumbing (dict-backed twins of the TWS state API) ----------

class FakeValueState:
    def __init__(self):
        self.v = None

    def exists(self):
        return self.v is not None

    def get(self):
        return self.v

    def update(self, v):
        self.v = tuple(v)

    def clear(self):
        self.v = None


class FakeListState:
    def __init__(self):
        self.rows: list[tuple] = []

    def get(self):
        return iter(list(self.rows))

    def put(self, rows):
        self.rows = [tuple(r) for r in rows]

    def appendValue(self, r):
        self.rows.append(tuple(r))

    def clear(self):
        self.rows = []


class FakeHandle:
    def __init__(self):
        self.states: dict[str, object] = {}
        self.timers: set[int] = set()

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeValueState())

    def getListState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, FakeListState())

    def registerTimer(self, ts):
        self.timers.add(ts)

    def deleteTimer(self, ts):
        self.timers.discard(ts)

    def listTimers(self):
        return iter(sorted(self.timers))


class FakeExpiredTimerInfo:
    def __init__(self, ts):
        self._ts = ts

    def getExpiryTimeInMs(self):
        return self._ts


def _drive(proc: WFRunFoldProcessor, key: str, events: list[dict]) -> list[dict]:
    """Push one micro-batch group of events; return the output rows."""
    pdf = pd.DataFrame(events)
    out = []
    for res in proc.handleInputRows((key,), iter([pdf]), None):
        out.extend(res.to_dict("records"))
    return out


def _start_event(run_id: str, variables: dict, offset: int = 0,
                 ts: int = 1000) -> dict:
    return {"wf_run_id": run_id, "wf_spec_id": "s", "wf_spec_name": "s",
            "event_type": "WF_RUN_STARTED", "thread_id": 0,
            "timestamp": ts, "offset": offset,
            "content": json.dumps({"variables": variables})}


def _sequential_rows(spec, key: str, batches: list[list[dict]],
                     executor=None) -> list[dict]:
    """The reference output for a micro-batch slicing: every event
    folded in order by `process_event` on ONE in-memory document (no
    state store, no JSON round-trip between batches), with a
    snapshot (and its alias-index diff) closing each batch that
    leaves a run.  A batch that leaves no run persists nothing, so
    its offsets do not advance the key's `seq`."""
    state, max_offset, max_ts, rows = None, 0, 0, []
    for batch in batches:
        before = doc_aliases(state)
        events, max_offset, max_ts = prepare_events(
            [dict(e) for e in batch], max_offset, max_ts, None)
        for ev in events:
            state, ctx = process_event(spec, state, ev, executor=executor)
            emit_ctx_rows(rows, key, ctx, [])
        if state is None:
            max_offset, max_ts = 0, 0
        else:
            index_diff_rows(rows, key, before, state, max_offset)
            rows.append(snapshot_row(key, state, max_offset))
    return rows


def test_fold_lifecycle_matches_apds_semantics():
    """Full inline-executor run through the processor == the same
    events folded sequentially by `process_event` (state doc,
    snapshot seq, output kinds) — the per-batch semantics the retired
    applyInPandasWithState engine also had to meet."""
    events = [_start_event("r1", {"n_purch": 2, "n_click": 5})]

    proc = WFRunFoldProcessor(pipeline_spec(), executor=pipeline_executor)
    proc.init(FakeHandle())
    tws_rows = _drive(proc, "r1", events)
    ref_rows = _sequential_rows(pipeline_spec(), "r1", [events],
                                executor=pipeline_executor)

    def snap(rows):
        return [(r["seq"], r["payload"]) for r in rows if r["kind"] == "snapshot"]

    assert [r["kind"] for r in tws_rows] == [r["kind"] for r in ref_rows]
    assert snap(tws_rows) == snap(ref_rows)
    state = json.loads(snap(tws_rows)[0][1])
    assert state["status"] == "COMPLETED"
    assert state["thread_runs"][0]["variables"]["score"] == 2 * 2 + 5 + 7


def test_per_timer_native_callbacks():
    """SLEEP: the processor registers ONE native timer per stored
    WFRunTimer (not a single re-armed earliest timeout) and the
    per-timer callback completes the run with no further input."""
    import time

    wf = Workflow("sleepy-tws")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    handle = FakeHandle()
    proc = WFRunFoldProcessor(spec, native_timers=True)
    proc.init(handle)
    # Future event-time: the timer must stay pending at input time
    # (a wall-clock-past maturation fires inline, as in the old engine).
    ts0 = int(time.time() * 1000) + 600_000
    rows = _drive(proc, "r1", [_start_event("r1", {}, ts=ts0)])
    timer_rows = [r for r in rows if r["kind"] == "timer"]
    assert len(timer_rows) == 1
    maturation = timer_rows[0]["maturation_timestamp"]
    assert handle.timers == {maturation}  # one native timer per WFRunTimer
    assert [r["status"] for r in rows if r["kind"] == "snapshot"] == ["RUNNING"]

    out = []
    for res in proc.handleExpiredTimer(("r1",), None,
                                       FakeExpiredTimerInfo(maturation)):
        out.extend(res.to_dict("records"))
    snaps = [r for r in out if r["kind"] == "snapshot"]
    assert snaps and snaps[-1]["status"] == "COMPLETED"
    state = json.loads(snaps[-1]["payload"])
    assert state["thread_runs"][0]["task_runs"][0]["status"] == "COMPLETED"
    # Timer store drained.
    assert list(handle.states["timers"].get()) == []


def test_tombstone_eviction_and_ttl_removal():
    """evict_completed: terminal run → tombstone (duplicates dropped);
    the TTL timer callback removes even the marker."""
    handle = FakeHandle()
    proc = WFRunFoldProcessor(pipeline_spec(), executor=pipeline_executor,
                              native_timers=True, evict_completed=True,
                              tombstone_ttl_ms=60_000)
    proc.init(handle)
    rows = _drive(proc, "r1", [_start_event("r1", {"n_purch": 1, "n_click": 1})])
    assert [r["status"] for r in rows if r["kind"] == "snapshot"] == ["COMPLETED"]
    assert handle.states["run"].get()[3] == 1  # tomb marker
    assert len(handle.timers) == 1             # the TTL timer

    # Redelivered duplicate start → swallowed, no output, no restart.
    dup = _drive(proc, "r1", [_start_event("r1", {"n_purch": 1, "n_click": 1})])
    assert dup == []

    # TTL fires → the key's state is fully removed.
    (ttl_ts,) = handle.timers
    out = []
    for res in proc.handleExpiredTimer(("r1",), None, FakeExpiredTimerInfo(ttl_ts)):
        out.extend(res.to_dict("records"))
    assert out == []
    assert handle.states["run"].get() is None


def test_stale_timer_callback_is_noop():
    """A callback firing before any stored timer matures must not
    change state (nothing to re-arm in the per-timer model)."""
    import time

    wf = Workflow("sleepy-tws2")
    t = wf.thread("entrypoint")
    t.sleep_for(10)
    spec = wf.build()

    handle = FakeHandle()
    proc = WFRunFoldProcessor(spec, native_timers=True)
    proc.init(handle)
    _drive(proc, "r1", [_start_event("r1", {}, ts=int(time.time() * 1000)
                                     + 600_000)])
    before = handle.states["run"].get()
    assert list(handle.states["timers"].get())  # the sleep is pending
    out = []
    for res in proc.handleExpiredTimer(("r1",), None, FakeExpiredTimerInfo(1)):
        out.extend(res.to_dict("records"))
    assert out == []
    assert handle.states["run"].get() == before


def test_tws_streaming_twin_matches_batch(spark):
    """Full Structured Streaming run under transformWithStateInPandas."""
    from old_original_java_little_horse_spark.streaming.engine import (
        run_streaming_availablenow,
    )

    workdir = Path(tempfile.mkdtemp(prefix="tws-twin-"))
    try:
        events_dir = workdir / "events"
        events_dir.mkdir()
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, 1000, 0,
                  json.dumps({"variables": {"n_purch": 2, "n_click": 5}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "wave1"))
        tagged = run_streaming_availablenow(
            spark, str(events_dir) + "/*", pipeline_spec(),
            checkpoint_dir=str(workdir / "ckpt"),
            output_dir=str(workdir / "out"),
            executor=pipeline_executor)
        snaps = [r for r in tagged.collect() if r["kind"] == "snapshot"]
        assert len(snaps) == 1 and snaps[0]["status"] == "COMPLETED"
        state = json.loads(snaps[0]["payload"])
        assert state["thread_runs"][0]["variables"]["score"] == 2 * 2 + 5 + 7
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def test_tws_native_timer_fires_live(spark):
    """ST2 under the REAL tws runtime: a stored SLEEP's WFRunTimer is
    armed as ONE native timer (`handle.registerTimer`) and
    `handleExpiredTimer` fires for exactly that maturation — the run
    completes with NO further input (reference punctuator semantics,
    SchedulerProcessor.java:88-126), proven against the RocksDB state
    store + timer services rather than the fake handle."""
    import time

    from old_original_java_little_horse_spark.streaming.engine import (
        start_continuous,
    )

    wf = Workflow("sleepy-tws")
    t = wf.thread("entrypoint")
    t.sleep_for(1)
    spec = wf.build()

    workdir = Path(tempfile.mkdtemp(prefix="tws-native-"))
    events_dir = workdir / "events"
    events_dir.mkdir()
    out_dir = workdir / "out"
    q = start_continuous(
        spark, str(events_dir) + "/*", spec,
        checkpoint_dir=str(workdir / "ckpt"), output_dir=str(out_dir),
        trigger_seconds=0.2,
    )
    try:
        now = int(time.time() * 1000)
        start = [("r1", "s", "s", "WF_RUN_STARTED", 0, now, 0,
                  json.dumps({"variables": {}}))]
        spark.createDataFrame(start, schema=WF_EVENT_SCHEMA) \
             .coalesce(1).write.parquet(str(events_dir / "cmd1"))

        deadline = time.monotonic() + 60
        final = None
        while time.monotonic() < deadline:
            try:
                rows = spark.read.parquet(str(out_dir)).collect()
            except Exception:
                rows = []
            snaps = sorted((r for r in rows if r["kind"] == "snapshot"),
                           key=lambda r: r["seq"])
            if snaps and snaps[-1]["status"] == "COMPLETED":
                final = snaps[-1]
                break
            time.sleep(0.3)
        assert final is not None, "sleep never completed without a pump"
        state = json.loads(final["payload"])
        assert state["thread_runs"][0]["task_runs"][0]["status"] == "COMPLETED"
        # Nothing re-injected events: the input dir still has only cmd1.
        assert {p.name for p in events_dir.iterdir()} == {"cmd1"}
    finally:
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


# ---------------------------------------------------------------------------
# Engine-equivalence fuzz: ANY interleaving, ANY micro-batch slicing
# ---------------------------------------------------------------------------

def test_engines_agree_on_random_interleavings_and_batchings():
    """The streaming processor must emit EXACTLY the pure fold
    engine's sequential output-row stream (`_sequential_rows`) for
    any event interleaving AND any micro-batch slicing of it — state
    persisted through the typed state variables between batches must
    be indistinguishable from one in-memory document.  Fuzzes the
    semantic surface across the fold property pool (garbage events,
    duplicates, interrupts, stops, retries, timers);
    `engine_streaming_fold` proves one scenario end-to-end under the
    real runtime."""
    import copy

    from hypothesis import given, settings, strategies as st

    from .test_fold_properties import SPEC, event_pool

    @settings(max_examples=75, deadline=None)
    @given(st.data())
    def run(data):
        pool = event_pool()
        n = data.draw(st.integers(min_value=1, max_value=14))
        seq = [copy.deepcopy(pool[i]) for i in
               data.draw(st.lists(st.integers(0, len(pool) - 1),
                                  min_size=n, max_size=n))]
        for i, ev in enumerate(seq):
            ev["offset"] = i
            # the streaming column is always a JSON string
            if isinstance(ev.get("content"), dict):
                ev["content"] = json.dumps(ev["content"])
        # random micro-batch boundaries (sorted unique cut points)
        cuts = sorted(set(data.draw(st.lists(
            st.integers(1, max(1, n - 1)), max_size=4))))
        batches, lo = [], 0
        for c in cuts + [n]:
            if c > lo:
                batches.append(seq[lo:c])
                lo = c

        proc = WFRunFoldProcessor(SPEC, evict_completed=False)
        proc.init(FakeHandle())
        tws_rows: list[dict] = []
        for batch in batches:
            pdf = pd.DataFrame(batch)
            for res in proc.handleInputRows(("r1",), iter([pdf]), None):
                tws_rows.extend(res.to_dict("records"))

        def norm(rows):
            # pandas NaN (float cols) != NaN under dict equality
            return [{k: (None if isinstance(v, float) and v != v else v)
                     for k, v in r.items()} for r in rows]

        ref_rows = _sequential_rows(
            SPEC, "r1", [pd.DataFrame(b).to_dict("records") for b in batches])
        assert norm(tws_rows) == norm(ref_rows)

    run()
