"""Streaming engine: the same pure fold under Structured Streaming.

SURVEY.md §3.2 / §7 step 4 — the reference's Kafka Streams topology
(`J/scheduler/SchedulerTopology.java:23-154`) re-expressed as ONE
streaming query:

    events → groupBy(wf_run_id) → transformWithStateInPandas(fold)
           → tagged output rows → filter-split → sinks

- Per-key state is the WFRun JSON document in a typed value state
  (the reference's RocksDB value, `SchedulerProcessor.java:133-231`);
  Structured Streaming's RocksDB state store replaces the store +
  changelog topic pair — the write-amplification the reference
  laments in `SchedulerTopology.java:33-46` disappears.
- Intra-key ordering: events are sorted by `offset` inside each
  micro-batch group (Structured Streaming does not guarantee
  intra-batch order — SURVEY §2.10).
- Outputs are a single tagged stream: `kind` ∈ {snapshot,
  task_schedule, timer, index}; the per-TaskDef fanout (S4) becomes a
  filter or a Kafka sink with a `topic` column — strictly better than
  the reference's one-processor-per-TaskDef (§2.2 P1).
- Timers: the live path (`start_continuous`) registers one native
  processing-time timer per stored `WFRunTimer` and folds it in the
  per-timer callback — the reference's 1 s punctuator
  (`SchedulerProcessor.java:56-60`, `Constants.java:36`) without any
  satellite process; a SLEEP completes with no further input.  Replay
  paths keep timers as emitted `kind='timer'` rows + explicit
  TIMER_EVENTs (deterministic: no wall-clock reads), served by the
  legacy `TimerPump` when needed.
- Every starter goes through `_start_query`, which scopes the RocksDB
  provider the processor's typed state needs and refuses checkpoints
  an older release wrote with a different provider.
"""

from __future__ import annotations

import json
import os
import re
from pathlib import Path
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo, StatefulProcessor, StatefulProcessorHandle, TimerValues,
)
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

from ..engine.fold import TaskExecutor, process_event

OUTPUT_SCHEMA = StructType([
    StructField("wf_run_id", StringType()),
    StructField("kind", StringType()),       # snapshot | task_schedule | timer | index
    StructField("status", StringType()),     # snapshot only
    StructField("task_def_name", StringType()),   # task_schedule only
    StructField("thread_id", IntegerType()),
    StructField("task_run_position", IntegerType()),
    StructField("maturation_timestamp", LongType()),  # timer only
    StructField("seq", LongType()),          # snapshot only: max folded offset
    StructField("payload", StringType()),    # full JSON of the row's object
])

_COLS = [f.name for f in OUTPUT_SCHEMA.fields]

# Per-key processor state (see WFRunFoldProcessor).  A tombstone
# (`tomb`=1, empty document) keeps exactly-once under redelivery — a
# duplicate WF_RUN_STARTED for an evicted run must NOT restart it — at
# ~40 bytes instead of the full multi-KB WFRun document: at 100× run
# cardinality the state store holds markers, not history.
_RUN_STATE_SCHEMA = ("state_json string, max_offset long, "
                     "max_event_ts long, tomb integer")
_TIMER_STATE_SCHEMA = "payload string"


def _timer_key(t: dict) -> tuple:
    return (t["thread_run_id"], t["task_run_id"], t["maturation_timestamp"])


def emit_ctx_rows(out_rows: list, wf_run_id: str, ctx, pending: list) -> None:
    """Append a fold invocation's task-schedule and timer output rows
    (new timers also join `pending`, the run's stored-timer list)."""
    for tsr in ctx.to_schedule:
        out_rows.append({
            "wf_run_id": wf_run_id, "kind": "task_schedule",
            "status": None,
            "task_def_name": tsr["task_def_name"],
            "thread_id": tsr["thread_id"],
            "task_run_position": tsr["task_run_position"],
            "maturation_timestamp": None, "seq": None,
            "payload": json.dumps(tsr, separators=(",", ":")),
        })
    for timer in ctx.timers:
        pending.append(timer)
        out_rows.append({
            "wf_run_id": wf_run_id, "kind": "timer",
            "status": None, "task_def_name": None,
            "thread_id": timer["thread_run_id"],
            "task_run_position": timer["task_run_id"],
            "maturation_timestamp": timer["maturation_timestamp"],
            "seq": None,
            "payload": json.dumps(timer, separators=(",", ":")),
        })


def _ival(x) -> int:
    """None/NaN/garbage → 0, else int.  WF_EVENT_SCHEMA's offset and
    timestamp are nullable LongType; ONE null in a batch makes
    Arrow→pandas render the whole column float64 with NaN, and
    ``nan or 0`` is nan (truthy) — which would poison the sort key,
    make ``max()`` return nan, silently drop every later event at the
    lateness gate, and write a float into the Long state column."""
    try:
        if x is None or x != x:  # NaN != NaN
            return 0
        return int(x)
    except (TypeError, ValueError):
        return 0


def prepare_events(events: list[dict], max_offset: int, max_event_ts: int,
                   allowed_lateness_ms: int | None) -> tuple[list[dict], int, int]:
    """Order + bound a micro-batch group's events: sort by per-key offset (Structured Streaming
    gives no intra-batch order), drop events beyond the lateness
    allowance, and advance the key's (max_offset, max_event_ts) —
    `seq` must STRICTLY increase whenever events fold, so an
    out-of-order event with a stale offset still bumps it.
    Offsets/timestamps are normalized in place (None/NaN → 0) so the
    fold downstream never sees a pandas-nullified float."""
    for e in events:
        e["offset"] = _ival(e.get("offset"))
        e["timestamp"] = _ival(e.get("timestamp"))
    events = sorted(events, key=lambda e: e["offset"])
    if allowed_lateness_ms is not None:
        max_seen = max_event_ts
        kept = []
        for e in events:
            ts = e["timestamp"]
            max_seen = max(max_seen, ts)
            # TIMER_EVENTs are engine-internal control flow, late BY
            # CONSTRUCTION (their timestamp is the maturation time,
            # and a delayed pump injects them after the key's
            # event-time has moved on).  Dropping one would strand
            # its SLEEP forever — the pump's fired-ledger never
            # re-injects.  The lateness policy exists for EXTERNAL
            # data, so control events bypass it.
            if (e.get("event_type") == "TIMER_EVENT"
                    or ts >= max_seen - allowed_lateness_ms):
                kept.append(e)
        events = kept
    max_event_ts = max(
        [max_event_ts] + [e["timestamp"] for e in events])
    prev_max_offset = max_offset
    max_offset = max([max_offset] + [e["offset"] for e in events])
    if events and max_offset <= prev_max_offset:
        max_offset = prev_max_offset + 1
    return events, max_offset, max_event_ts


def snapshot_row(wf_run_id: str, state: dict, max_offset: int) -> dict:
    """The S5 snapshot output row (SchedulerTopology.java:74-87)."""
    return {
        "wf_run_id": wf_run_id, "kind": "snapshot",
        "status": state["status"], "task_def_name": None,
        "thread_id": None, "task_run_position": None,
        "maturation_timestamp": None, "seq": max_offset,
        "payload": json.dumps(state, separators=(",", ":")),
    }


def index_diff_rows(out_rows: list, wf_run_id: str, old_aliases: set,
                    state: dict, max_offset: int) -> None:
    """CREATE/DELETE alias changelog rows for a changed run
    (ResourceIndexProcessor.java:41-131 semantics)."""
    from ..operators.run_index import doc_aliases

    new_aliases = doc_aliases(state)
    for op, pairs in (("DELETE", old_aliases - new_aliases),
                      ("CREATE", new_aliases - old_aliases)):
        for k, v in sorted(pairs):
            out_rows.append({
                "wf_run_id": wf_run_id, "kind": "index",
                "status": None, "task_def_name": None,
                "thread_id": None, "task_run_position": None,
                "maturation_timestamp": None, "seq": max_offset,
                "payload": json.dumps(
                    {"op": op, "key": k, "value": v},
                    separators=(",", ":")),
            })


def fire_matured_timers(spec: dict, executor, wf_run_id: str, state,
                        pending: list, max_offset: int, now_ms: int,
                        out_rows: list):
    """Fold every matured stored timer as a TIMER_EVENT; firing can
    create new timers (sequential SLEEPs), so loop to quiescence.
    Synthetic offsets continue the per-key sequence (+1 each) so
    snapshot `seq` stays monotonic."""
    fired = False
    while True:
        matured = [t for t in pending
                   if t["maturation_timestamp"] <= now_ms]
        if not matured:
            break
        # Maturation order FIRST (thread/task ids only break ties):
        # the reference punctuator range-scans [0, now] by
        # maturation time (SchedulerProcessor), and the TimerPump
        # replay path injects events whose offsets are the
        # µs-scaled maturation timestamps — firing here in any
        # other order could diverge from both when one timer's
        # fold halts a thread whose own timer matured earlier.
        for t in sorted(matured,
                        key=lambda t: (t["maturation_timestamp"],
                                       t["thread_run_id"],
                                       t["task_run_id"])):
            pending.remove(t)
            max_offset += 1
            ev = {
                "wf_run_id": wf_run_id, "event_type": "TIMER_EVENT",
                "thread_id": t["thread_run_id"],
                "timestamp": t["maturation_timestamp"],
                "offset": max_offset, "content": json.dumps(t),
            }
            state, ctx = process_event(spec, state, ev, executor=executor)
            emit_ctx_rows(out_rows, wf_run_id, ctx, pending)
            fired = True
    return state, pending, max_offset, fired


def require_protobuf() -> None:
    """Fail fast where the engine cannot run.  Spark's
    transformWithStateInPandas Python worker speaks a protobuf
    state-server protocol: without `google.protobuf` importable the
    query dies at initialization
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE).
    `protobuf_compat.ensure_protobuf` first tries to RESOLVE a runtime
    (installed, or a pure-Python bundle exposed through a shim path)."""
    from .. import protobuf_compat

    if not protobuf_compat.ensure_protobuf():
        raise RuntimeError(
            "the streaming engine (transformWithStateInPandas) needs "
            "google.protobuf for its Python state server: install "
            "protobuf, or set LH_SPARK_PROTOBUF_PATH to a directory "
            "that contains google/protobuf")


def _export_worker_pythonpath(spark) -> None:
    """transformWithStateInPandas starts a LONG-LIVED state-server
    Python process through `StreamingPythonRunner`, which (unlike
    task workers) does not consult the session's addPyFile includes —
    its import path comes from the PYTHONPATH in the Python
    function's captured env (`sc.environment`, snapshotted when the
    UDF is wrapped).  Export this package's parent dir and, when the
    protobuf fallback is active, the shim path, BEFORE the UDF is
    created.  Driver-local paths are fine: the runner lives on the
    driver node; ordinary executor workers are covered by
    ship_package/ship_protobuf."""
    extra = [str(Path(__file__).resolve().parents[2])]
    try:
        import google.protobuf as gp

        extra.append(str(Path(gp.__file__).resolve().parents[2]))
    except ImportError:
        pass
    env = spark.sparkContext.environment
    parts = [p for p in (env.get("PYTHONPATH") or
                         os.environ.get("PYTHONPATH", "")).split(os.pathsep)
             if p]
    env["PYTHONPATH"] = os.pathsep.join(
        dict.fromkeys(extra + parts))  # ordered de-dup


class WFRunFoldProcessor(StatefulProcessor):
    """The fold as a transformWithStateInPandas processor.  One
    instance per state partition; state accessors are per-key
    (implicit grouping key, as with the reference's processor).

    Engine bookkeeping lives in the `run` value state, NOT inside the
    WFRun JSON document: the document is the public surface
    (snapshots, index, lhctl get) and must contain only reference
    fields.  `max_offset` gives snapshots a monotonic sequence number
    (latest-wins selection in the query layer); `max_event_ts` drives
    the lateness bound; `tomb` marks an evicted terminal run (full
    document dropped, dedupe marker retained).  Pending timers are a
    `timers` list-state element each (the reference's timer store,
    SchedulerProcessor.java:56-60), and with `native_timers` each
    distinct maturation is ONE registered native timer, whose
    `handleExpiredTimer` callback is the punctuator visit
    (SchedulerProcessor.java:88-126)."""

    def __init__(self, spec: dict, executor: TaskExecutor | None = None,
                 allowed_lateness_ms: int | None = None,
                 native_timers: bool = False,
                 evict_completed: bool = False,
                 tombstone_ttl_ms: int | None = None):
        self.spec = spec
        self.executor = executor
        self.allowed_lateness_ms = allowed_lateness_ms
        self.native_timers = native_timers
        self.evict_completed = evict_completed
        self.tombstone_ttl_ms = tombstone_ttl_ms

    # -- state plumbing ----------------------------------------------------

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self._run = handle.getValueState("run", _RUN_STATE_SCHEMA)
        self._timers = handle.getListState("timers", _TIMER_STATE_SCHEMA)

    def close(self) -> None:
        pass

    def _load(self):
        val = self._run.get()
        if val is None:
            return None, 0, 0, 0, []
        state_json, max_offset, max_event_ts, tomb = val
        pending = [json.loads(p) for (p,) in self._timers.get()]
        state = None if tomb else json.loads(state_json)
        return state, max_offset or 0, max_event_ts or 0, tomb or 0, pending

    def _save(self, state, max_offset: int, max_event_ts: int,
              pending: list, out_rows: list, wf_run_id: str,
              old_aliases: set | None) -> None:
        """Emit the per-batch snapshot (S5, SchedulerTopology.java:74-87;
        `seq` = max folded offset, a monotonic per-key version the query
        layer orders by — file-scan order is NOT write order) and its
        alias-index diff against `old_aliases` (the run's aliases
        BEFORE this batch — ResourceIndexProcessor.java:41-131: the
        scheduler, which alone sees old+new state, publishes index
        diffs), then persist state, register one native timer per new
        pending maturation, and tombstone terminal runs."""
        if old_aliases is not None:
            index_diff_rows(out_rows, wf_run_id, old_aliases, state, max_offset)
        out_rows.append(snapshot_row(wf_run_id, state, max_offset))
        if self.evict_completed and state["status"] == "COMPLETED":
            # Terminal run, one guard, one motion: stored timers can no
            # longer change anything (the fold's stale guards no-op a
            # timer against a terminal run, same as the reference
            # punctuator firing late), so drop them rather than let an
            # unmatured task-timeout pin the full document forever in
            # replay mode (no timer wheel).  CRITICALLY, also delete
            # every REGISTERED native timer: this API keeps each
            # registered expiry alive, and a leftover task-timeout
            # firing on the tombstoned key would look exactly like the
            # TTL expiry — wiping the dedupe marker early (with
            # ttl=None: a PERMANENT marker) and re-opening the run to
            # redelivered events.
            self._run.update(("", max_offset, max_event_ts, 1))
            self._timers.clear()
            if self.native_timers:
                for ts in self.handle.listTimers():
                    self.handle.deleteTimer(ts)
                if self.tombstone_ttl_ms is not None:
                    import time as _time

                    self.handle.registerTimer(
                        int(_time.time() * 1000) + self.tombstone_ttl_ms)
            return
        self._run.update((json.dumps(state, separators=(",", ":")),
                          max_offset, max_event_ts, 0))
        self._timers.clear()
        if pending:
            self._timers.put([(json.dumps(t, separators=(",", ":")),)
                              for t in pending])
            if self.native_timers:
                # Register only NEW maturations: stored timers survive
                # across invocations in this API (no re-arm dance), and
                # re-registering an existing expiry must not double it.
                armed = set(self.handle.listTimers())
                for ts in {t["maturation_timestamp"] for t in pending}:
                    if ts not in armed:
                        self.handle.registerTimer(ts)

    # -- input path --------------------------------------------------------

    def handleInputRows(self, key, rows: Iterator[pd.DataFrame],
                        timerValues: TimerValues) -> Iterator[pd.DataFrame]:
        import time as _time

        (wf_run_id,) = key
        state, max_offset, max_event_ts, tomb, pending = self._load()
        if tomb:
            # Evicted terminal run: every redelivered/late event is
            # dropped — the marker exists precisely to make this safe.
            yield pd.DataFrame([], columns=_COLS)
            return
        from ..operators.run_index import doc_aliases

        # Alias set before this invocation's folding — the index diff
        # base (the fold mutates `state` in place, so capture now).
        old_aliases = doc_aliases(state)

        events: list[dict] = []
        for pdf in rows:
            events.extend(pdf.to_dict("records"))
        events, max_offset, max_event_ts = prepare_events(
            events, max_offset, max_event_ts, self.allowed_lateness_ms)

        out_rows: list = []
        for ev in events:
            if ev.get("event_type") == "TIMER_EVENT":
                # Externally-injected firing (TimerPump replay path):
                # drain the matching stored timer so `pending` tracks
                # only live timers in every mode.
                try:
                    fired_key = _timer_key(json.loads(ev.get("content") or "{}"))
                    pending = [t for t in pending
                               if _timer_key(t) != fired_key]
                except (KeyError, ValueError, TypeError):
                    # TypeError: content that is valid JSON but not an
                    # object ('123', '[1]', 'null') — a poison pill
                    # must be tolerated, not crash the micro-batch
                    # (which would replay and crash forever).
                    pass
            state, ctx = process_event(self.spec, state, ev,
                                       executor=self.executor)
            emit_ctx_rows(out_rows, wf_run_id, ctx, pending)

        if state is not None and self.native_timers:
            state, pending, max_offset, _ = fire_matured_timers(
                self.spec, self.executor, wf_run_id, state, pending,
                max_offset, int(_time.time() * 1000), out_rows)

        if state is not None:
            self._save(state, max_offset, max_event_ts, pending,
                       out_rows, wf_run_id, old_aliases)
        yield pd.DataFrame(out_rows, columns=_COLS)

    # -- timer path (per-timer callback) -----------------------------------

    def handleExpiredTimer(self, key, timerValues: TimerValues,
                           expiredTimerInfo: ExpiredTimerInfo,
                           ) -> Iterator[pd.DataFrame]:
        (wf_run_id,) = key
        expiry_ms = expiredTimerInfo.getExpiryTimeInMs()
        state, max_offset, max_event_ts, tomb, pending = self._load()
        if tomb:
            # Only a configured TTL may drop the marker.  _save
            # deletes all other registered timers at tombstone time,
            # so an expiry here IS the TTL timer — but older stores
            # (or a ttl=None config, where the marker is PERMANENT)
            # can still see a stale task-timeout fire on this key, and
            # clearing for one of those would break exactly-once.
            if self.tombstone_ttl_ms is not None:
                self._run.clear()
                self._timers.clear()
            yield pd.DataFrame([], columns=_COLS)
            return
        from ..operators.run_index import doc_aliases

        old_aliases = doc_aliases(state)
        out_rows: list = []
        state, pending, max_offset, fired = fire_matured_timers(
            self.spec, self.executor, wf_run_id, state, pending,
            max_offset, expiry_ms, out_rows)
        if fired:
            self._save(state, max_offset, max_event_ts, pending,
                       out_rows, wf_run_id, old_aliases)
        # Not fired (early/stale callback): stored timers and their
        # still-registered native timers are untouched — there is
        # nothing to re-arm.
        yield pd.DataFrame(out_rows, columns=_COLS)


def streaming_engine(events: DataFrame, spec: dict,
                     executor: TaskExecutor | None = None,
                     watermark_delay: str | None = None,
                     allowed_lateness_ms: int | None = None,
                     native_timers: bool = False,
                     evict_completed: bool = False,
                     tombstone_ttl_ms: int | None = None) -> DataFrame:
    """events (streaming DF, WF_EVENT_SCHEMA) → tagged output stream,
    via `groupBy(wf_run_id).transformWithStateInPandas`.  Start the
    result through one of this module's starters: the processor's
    state needs the RocksDB provider they set (`ENGINE_CONFS`).

    Late-data bound (SURVEY §2.10): `allowed_lateness_ms` drops
    events trailing the key's max event-time — enforced in the
    processor because Spark's watermark does not filter input rows
    for arbitrary stateful ops.  `watermark_delay` additionally
    declares the watermark on the stream (downstream aggregations);
    both complement the fold's own stale-result guard for in-window
    out-of-order arrivals.

    `native_timers`: the engine fires its own stored timers — matured
    pending timers are folded as TIMER_EVENTs, and each immature one
    is a registered processing-time timer, so a SLEEP completes with
    NO further input (the reference punctuator's "fires with no
    events" guarantee, SchedulerProcessor.java:56-60, 88-126).
    Replay/parity paths leave this off: a deterministic replay wants
    an explicit TIMER_EVENT stream, not wall-clock reads.

    `evict_completed`: once a run reaches COMPLETED and its final
    snapshot is emitted, replace the state document with a tombstone.
    Late/duplicate deliveries for the run are dropped (exactly-once
    preserved) but the store no longer grows with run *history* —
    only with run *count*, and `tombstone_ttl_ms` (native mode)
    removes even the marker once the redelivery horizon passes.
    HALTED runs are NOT evicted: WF_RUN_RESUME_REQUEST must find
    their full document (fold.py resume semantics).
    """
    from ..protobuf_compat import ship_protobuf
    from ..session import ship_package

    require_protobuf()
    ship_package(events.sparkSession)
    ship_protobuf(events.sparkSession)
    _export_worker_pythonpath(events.sparkSession)
    if watermark_delay is not None:
        events = events.withColumn(
            "event_time", F.timestamp_millis(F.col("timestamp"))
        ).withWatermark("event_time", watermark_delay)
    processor = WFRunFoldProcessor(
        spec, executor, allowed_lateness_ms=allowed_lateness_ms,
        native_timers=native_timers, evict_completed=evict_completed,
        tombstone_ttl_ms=tombstone_ttl_ms)
    return events.groupBy("wf_run_id").transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="ProcessingTime" if native_timers else "None",
    )

def split_outputs(tagged: DataFrame) -> dict[str, DataFrame]:
    """S4/S5 split: one tagged stream → per-sink streams (P1/P2)."""
    return {
        "snapshots": tagged.where(F.col("kind") == "snapshot")
                           .select("wf_run_id", "status", "payload"),
        "task_schedule": tagged.where(F.col("kind") == "task_schedule")
                               .select("wf_run_id", "task_def_name",
                                       "thread_id", "task_run_position", "payload"),
        "timers": tagged.where(F.col("kind") == "timer")
                        .select("wf_run_id", "thread_id", "task_run_position",
                                "maturation_timestamp", "payload"),
        "index": tagged.where(F.col("kind") == "index")
                       .select("wf_run_id", "seq", "payload"),
    }


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming."
                     "state.RocksDBStateStoreProvider")

# transformWithStateInPandas requires a state store that supports
# multiple column families (one per typed state variable / timer
# store) — Spark's RocksDB provider, not the default HDFS-backed one.
# Fitting: RocksDB is exactly what the reference's stores run on
# (SURVEY §2.1 S6).
ENGINE_CONFS = {"spark.sql.streaming.stateStore.providerClass":
                _ROCKSDB_PROVIDER}

_PROVIDER_RE = re.compile(
    r'"spark\.sql\.streaming\.stateStore\.providerClass"\s*:\s*"([^"]+)"')


# A micro-batch at or under this row count is appended + upserted
# driver-side from one toArrow() collection (see the continuous
# sink): live serving emits a handful of rows per trigger, and each
# extra Spark job there is ~0.15-0.4 s of scheduler overhead on the
# command-latency path.  Backfills blow past it and stay distributed.
_SMALL_BATCH_ROWS = 5000


def _append_output_arrow(tbl, output_dir: str) -> None:
    """Append one collected micro-batch to the changelog directory as
    a single parquet file (driver-side twin of
    ``batch_df.write.mode("append")`` for small batches).  Write-then-
    rename so a concurrent reader's listing never sees a torn file."""
    import uuid as _uuid

    import pyarrow.parquet as _pq

    os.makedirs(output_dir, exist_ok=True)
    name = f"part-drv-{_uuid.uuid4().hex[:16]}.parquet"
    tmp = os.path.join(output_dir, f".{name}.tmp")
    _pq.write_table(tbl, tmp)
    # fsync data BEFORE the rename: without it a power loss can keep
    # the rename but drop the contents, leaving a truncated file under
    # its final name that permanently poisons the changelog stream
    # source (Spark's committer-based append this replaces does not
    # have that torn-final-name mode).  Directory fsync after, so the
    # rename itself is durable too (ADVICE r8).
    fd = os.open(tmp, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    os.replace(tmp, os.path.join(output_dir, name))
    dfd = os.open(output_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def refuse_legacy_checkpoint(checkpoint_dir: str) -> None:
    """Refuse, before `.start()`, a checkpoint this engine cannot
    resume.  Every committed offsets file records the session conf its
    batch ran under, including the state-store provider class.  Older
    releases could run the fold on `applyInPandasWithState` over the
    default HDFS-backed provider; resuming such a checkpoint would
    start and then die inside the query
    (UNSUPPORTED_FEATURE.STATE_STORE_MULTIPLE_COLUMN_FAMILIES).  A
    checkpoint without committed offsets is fresh and passes."""
    offsets = Path(checkpoint_dir) / "offsets"

    # Offsets filenames are batch ids; sort NUMERICALLY so batch 10
    # outranks batch 9 (lexicographic order would scan '9' first once
    # ids pass one digit).  Non-numeric names sort FIRST so
    # `reversed(files)` reads genuinely newest-batch-first — a stray
    # non-numeric file must never shadow the newest batch's provider
    # record; Spark batch ids are always numeric.
    def _batch_key(p: Path):
        try:
            return (1, int(p.name), p.name)
        except ValueError:
            return (0, 0, p.name)

    try:
        files = sorted((p for p in offsets.iterdir()
                        if p.is_file() and not p.name.startswith(".")),
                       key=_batch_key)
    except OSError:
        return
    if not files:
        return
    provider = "none recorded"
    for path in reversed(files):
        try:
            m = _PROVIDER_RE.search(path.read_text())
        except OSError:
            continue
        if m:
            provider = m.group(1)
            break
    if not provider.endswith("RocksDBStateStoreProvider"):
        raise RuntimeError(
            f"checkpoint {checkpoint_dir} was written by the "
            f"applyInPandasWithState engine of an older release (state "
            f"store provider: {provider}); this engine runs "
            f"transformWithStateInPandas on {_ROCKSDB_PROVIDER} and "
            f"cannot resume it — move the directory aside to start from "
            f"a fresh checkpoint")


def _read_events(spark: SparkSession, events_dir: str,
                 max_files_per_trigger: int | None) -> DataFrame:
    from ..engine.batch import WF_EVENT_SCHEMA

    reader = spark.readStream.schema(WF_EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(events_dir)


def _start_query(spark: SparkSession, tagged: DataFrame, sink,
                 checkpoint_dir: str, trigger: dict,
                 state_partitions: int | None = None):
    """Start `tagged` into the foreachBatch `sink` — the one door every
    starter uses.  It refuses a legacy checkpoint, then scopes the
    engine confs around `.start()` (both are read at query START, and
    the session defaults are restored after): the RocksDB provider
    (`ENGINE_CONFS`) and, when given, `state_partitions` as the
    state-store fanout.  Stamps `_lh_fresh_start` (see
    await_read_your_writes)."""
    from ..session import scoped_conf

    refuse_legacy_checkpoint(checkpoint_dir)
    confs = dict(ENGINE_CONFS)
    if state_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(state_partitions)
    fresh = _fresh_checkpoint(checkpoint_dir)
    with scoped_conf(spark, confs):
        q = (
            tagged.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )
    q._lh_fresh_start = fresh
    return q


def start_continuous(spark: SparkSession, events_dir: str, spec: dict,
                     checkpoint_dir: str, output_dir: str,
                     executor: TaskExecutor | None = None,
                     trigger_seconds: float = 0.5,
                     native_timers: bool = True,
                     evict_completed: bool = True,
                     tombstone_ttl_ms: int | None = None,
                     serving_dir: str | None = None,
                     state_partitions: int | None = None,
                     max_files_per_trigger: int | None = None):
    """Start the engine as a continuously-running query (ProcessingTime
    trigger ~ the reference's 1 s punctuator cadence, Constants.java:36).

    The live path defaults to self-contained timers (a SLEEP completes
    with no external pump and no further input — Spark keeps scheduling
    micro-batches while processing-time timeouts are armed) and to
    tombstone eviction of COMPLETED runs.  Returns the StreamingQuery
    handle.

    `serving_dir`: also maintain the compacted point-lookup stores
    (`sinks/serving.py` — the reference's materialized RocksDB serving
    layer, APIStreamsContext.java:62-83) from each micro-batch; GETs
    then read one bucket partition instead of re-windowing the raw
    changelog.

    `state_partitions`: right-size the engine's state-store fanout
    (fixed at FIRST query start from `spark.sql.shuffle.partitions`;
    an existing checkpoint keeps its own).  Every state partition
    costs one store commit + one Arrow Python round-trip PER
    MICRO-BATCH even when idle — at the session's analytic default
    (32) an idle batch measured ~1.1 s, at 8 it is ~3x cheaper, which
    directly bounds command latency (the read-your-writes barrier
    waits out in-flight batches).  Size to the deployment's run-rate:
    a keyspace of thousands of concurrent runs wants the default
    analytic fanout or more; a serving-latency deployment wants few.
    Scoped to this query's start — the session default is restored.

    `max_files_per_trigger`: the file source's coarse admission cap
    (Kafka's `maxOffsetsPerTrigger` twin at FILE granularity) — with
    one-file-per-command production it bounds how much of a restart
    backlog any single micro-batch folds, keeping batch time (and so
    the read-your-writes barrier) bounded during catch-up.  FIFO file
    order is preserved, so a live command still queues behind
    remaining backlog files; for row-granular pacing that keeps new
    runs at idle-grade latency, wrap the bulk import in
    `streaming.admission.CatchUpAdmission` instead (source-side)."""
    tagged = streaming_engine(
        _read_events(spark, events_dir, max_files_per_trigger), spec,
        executor=executor, native_timers=native_timers,
        evict_completed=evict_completed, tombstone_ttl_ms=tombstone_ttl_ms)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # ONE count materializes the batch into the cache and gates
        # everything: with native timers armed, Spark triggers
        # continuously even while idle, and the previous
        # unconditional write + upsert probes cost ~3 empty jobs
        # (~1 s) per idle trigger — which floors command latency,
        # since the read-your-writes barrier waits out in-flight
        # batches.  Batch 0 always writes so the output dir carries a
        # readable schema from deploy time (downstream
        # spark.read.parquet of an empty-but-created dir would fail
        # schema inference).
        batch_df.persist()
        try:
            cnt = batch_df.count()
            if cnt == 0 and batch_id > 0:
                return
            if 0 < cnt <= _SMALL_BATCH_ROWS:
                # Small live batch: collect ONCE from the cache and do
                # changelog append + both serving upserts driver-side —
                # one Spark job total instead of three, the dominant
                # term in command round-trip latency.  At-least-once
                # append semantics are unchanged (a Spark re-append on
                # batch redelivery duplicates rows the same way).
                from ..sinks.serving import upsert_serving_stores_arrow

                tbl = batch_df.toArrow()
                _append_output_arrow(tbl, output_dir)
                if serving_dir is not None:
                    upsert_serving_stores_arrow(tbl, serving_dir)
                return
            batch_df.write.mode("append").parquet(output_dir)
            if serving_dir is not None:
                from ..sinks.serving import upsert_serving_stores

                upsert_serving_stores(batch_df, serving_dir)
        finally:
            # foreachBatch retries re-enter this function; without
            # the finally, a failed upsert would leak one cached
            # copy per attempt into executor storage memory.
            batch_df.unpersist()

    q = _start_query(spark, tagged, sink, checkpoint_dir,
                     {"processingTime": f"{trigger_seconds} seconds"},
                     state_partitions)
    q._lh_capped_admission = max_files_per_trigger is not None
    return q


def _fresh_checkpoint(checkpoint_dir: str) -> bool:
    """True iff the checkpoint has NO committed offsets — i.e. this
    query run cannot begin with a WAL-recovery replay, so the
    read-your-writes barrier may trust its first progress entry
    (stamped on the query as `_lh_fresh_start`).  Checked BEFORE
    .start(): afterwards the running query itself writes offsets."""
    try:
        return not os.listdir(os.path.join(checkpoint_dir, "offsets"))
    except FileNotFoundError:
        return True


def await_read_your_writes(query, timeout: float = 60.0) -> None:
    """Read-your-writes barrier: block until the engine has folded
    everything produced before this call.

    The reference polls the consumer's stored offset until it passes
    the produce offset, 50 ms at a time
    (`APIStreamsContext.java:168-222`, poll at 200-203).  On a
    micro-batch engine the equivalent is: wait for a completed trigger
    that *started* after this call and *listed the source fresh*.  An
    UNCAPPED continuous query (the default) consumes every file
    visible at a trigger's start — including this call's write —
    whether it read zero rows (someone else's batch already drained
    it) or many (it carried the write itself).

    When the starter capped admission (`max_files_per_trigger`, the
    coarse catch-up knob — stamped as `_lh_capped_admission`), a
    post-write trigger may have taken only older backlog files, so
    "started after the call" proves nothing.  The sufficient capped
    condition is a post-write batch with ZERO input rows: under FIFO
    file admission an empty batch means the source listing was empty,
    i.e. every earlier file — this write included — was already
    consumed.  That makes the barrier wait out the whole backlog,
    which is exactly what a capped FIFO source means; deployments
    that need idle-grade POST latency during catch-up should pace the
    backlog through `streaming.admission.CatchUpAdmission` (spooled
    events become barrier-visible only after release — call its
    `drain()` first when barriering on a spooled key) and leave the
    reader uncapped.

    Two progress entries must NOT satisfy the barrier:

    - a batch that began BEFORE the write and finished after the call
      (its listing predates the file) — excluded by `started > t0`;
    - the FIRST batch of a query run, which may be a WAL-recovery
      replay: on restart Structured Streaming re-executes the last
      planned-but-uncommitted batch with the file list it WROTE TO
      THE OFFSET LOG before the restart, so its progress timestamp is
      post-restart while its contents predate this write.  (Observed
      deterministically: POST against a just-restarted engine saw the
      recovery batch report 0 rows 30 ms after the write and served a
      404 for a run whose event hadn't been folded.)  Excluded by
      requiring `batchId > the first batchId this run reported` —
      each StreamingQuery object's progress buffer belongs to its own
      run, so the buffer's head is at or before the recovery batch,
      and only the recovery batch can carry a stale listing.

      EXCEPT when the starter stamped `_lh_fresh_start` (checkpoint
      had no committed offsets at start): a fresh run cannot begin
      with a recovery replay, so the head batch is trusted like any
      other.  Without this, an engine that schedules batches only on
      input (native_timers=False — the pump/replay deployments) would
      starve the FIRST post-start barrier forever: the write's own
      batch is the head, and no successor ever fires.
    """
    import time as _time
    from datetime import datetime, timezone

    trust_head = getattr(query, "_lh_fresh_start", False)
    capped = getattr(query, "_lh_capped_admission", False)
    t0 = datetime.now(timezone.utc)
    deadline = _time.monotonic() + timeout
    while _time.monotonic() < deadline:
        recent = query.recentProgress
        p = recent[-1] if recent else None
        if p:
            started = datetime.strptime(
                p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ"
            ).replace(tzinfo=timezone.utc)
            if (started > t0
                    and (trust_head
                         or p["batchId"] > recent[0]["batchId"])
                    and (not capped or p.get("numInputRows", 0) == 0)):
                return
        _time.sleep(0.05)  # the reference's 50 ms poll
    raise TimeoutError("read-your-writes barrier timed out")


def run_streaming_availablenow(spark: SparkSession, events_dir: str, spec: dict,
                               checkpoint_dir: str, output_dir: str,
                               executor: TaskExecutor | None = None,
                               max_files_per_trigger: int | None = None,
                               evict_completed: bool = False,
                               shuffle_partitions: int | None = None
                               ) -> DataFrame:
    """Run the engine over a parquet directory of events with an
    Available-Now trigger, appending tagged outputs to `output_dir`
    via foreachBatch (fault-tolerant: the checkpoint is recoverable,
    unlike a memory sink); returns the accumulated output DataFrame.

    This is the replay/backfill harness and the integration-test
    driver: with `max_files_per_trigger=1` each file becomes its own
    micro-batch, exercising cross-batch state persistence exactly as
    a live Kafka feed would.  In production the foreachBatch body is
    the idempotent Kafka/Delta dual-sink (exactly-once via dedupe on
    (wf_run_id, thread_id, task_run_position, attempt_number) —
    BASELINE.md part B).

    `shuffle_partitions` right-sizes the state store for the replay's
    keyspace: state partition count is fixed at query start from
    `spark.sql.shuffle.partitions`, and each partition costs a state
    commit + an Arrow Python round-trip per micro-batch — a 150-key
    replay on the session's 32 analytic partitions pays 32x that for
    nothing.  Scoped to this query; the session default is restored.
    """
    tagged = streaming_engine(
        _read_events(spark, events_dir, max_files_per_trigger), spec,
        executor=executor, evict_completed=evict_completed)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(output_dir)

    q = _start_query(spark, tagged, sink, checkpoint_dir,
                     {"availableNow": True}, shuffle_partitions)
    if not q.awaitTermination(300):
        # A truncated replay must be an ERROR, not a silently
        # short output a parity gate would misread as data drift.
        q.stop()
        raise TimeoutError(
            "availableNow replay did not finish within 300s; "
            "output would be truncated")
    return spark.read.parquet(output_dir)
