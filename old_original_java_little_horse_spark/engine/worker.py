"""Task worker: executes scheduled tasks and produces result events.

Port of the reference worker loop (`J/deployers/examples/common/
taskimpl/TaskWorker.java:58-145`, Python twin `lhctl/executor/
worker.py:48-120`).  The reference gets exactly-once by committing
the consumer offset and the result event in one Kafka transaction
(TaskWorker.java:102-142); Spark's checkpoint gives at-least-once
delivery of schedule rows, so exactly-once here is an *idempotent
consumer*: results are deduped on the task-run identity key
`(wf_run_id, thread_id, task_run_position, attempt_number)` —
BASELINE.md part B's "no lost/duplicate TaskRuns" target — and the
fold's stale-result guard drops anything that still slips through.

The worker is deliberately out-of-engine (plain Python over rows),
mirroring the reference's architecture: engine ⇄ worker only via the
schedule/result streams.
"""

from __future__ import annotations

import json
import os
from typing import Callable

TaskFn = Callable[[dict], dict]


class TaskWorker:
    """Executes task_schedule payloads with registered functions.

    `seen_path` (optional) makes the idempotency ledger durable: a
    "started" intent line appended before the user function runs and a
    "done" line after the result events exist, loaded at startup.  A
    worker restarted against replayed schedule rows then skips
    everything already done.  A crash between user-function return
    and the "done" append (the window Kafka's transactional variant
    closes with its offset+event commit, `TaskWorker.java:102-142`)
    leaves the key *in-doubt*: the restart re-executes (at-least-once
    is the documented fallback) but records the detection in
    `detected_in_doubt` instead of silently treating the attempt as
    never started."""

    def __init__(self, tasks: dict[str, TaskFn], worker_id: str = "pyworker-1",
                 seen_path: str | None = None):
        self.tasks = tasks
        self.worker_id = worker_id
        self._seen: set[tuple] = set()  # idempotency keys (ledger: "done")
        self._in_doubt: set[tuple] = set()  # "started" intent, no "done"
        self.detected_in_doubt: list[tuple] = []  # surfaced re-executions
        self._seen_path = seen_path
        self._seen_offset = 0
        self.reload_seen()

    def reload_seen(self) -> None:
        """Fold any ledger lines appended since the last read into the
        in-memory sets (incremental: resumes at the last byte offset).
        Called at startup and — since the ledger is keyed by TaskDef,
        so workers for different specs that share a TaskDef share one
        file — once per poll by `cli.cmd_work`, which shrinks the
        cross-process duplicate window from the whole overlap period
        to one poll interval.  Concurrent executions WITHIN a poll are
        still possible: at-least-once per attempt key is the
        contract, this ledger just narrows it.

        Another process may be mid-append when we read, so only
        COMPLETE lines (ending in a newline) are consumed: the offset
        advances to just past the last newline in the chunk, leaving
        any trailing partial line for the next poll, and a malformed
        complete line is skipped rather than crashing the poll loop.

        Ledger line formats:
        - ``{"k": [...], "s": "started"}`` — intent record, appended
          BEFORE the user function runs;
        - ``{"k": [...], "s": "done"}`` — appended after the result
          events exist;
        - bare ``[...]`` — legacy pre-intent format, treated as done.
        """
        if not self._seen_path:
            return
        try:
            with open(self._seen_path, "rb") as f:
                f.seek(self._seen_offset)
                chunk = f.read()
        except FileNotFoundError:
            return
        cut = chunk.rfind(b"\n")
        if cut < 0:
            return  # nothing but a partial line — leave it unconsumed
        for raw in chunk[: cut + 1].splitlines():
            raw = raw.strip()
            if not raw:
                continue
            try:
                rec = json.loads(raw)
            except (json.JSONDecodeError, UnicodeDecodeError):
                continue  # torn/corrupt line — skip, don't crash the poll
            # Shape-validate before touching the sets: a line that is
            # valid JSON but the wrong shape (scalar "k", nested lists,
            # a bare string) must be SKIPPED like any other corruption,
            # not crash the poll with TypeError or — worse — silently
            # load tuple("wf-1") == ('w','f','-','1') as a key.
            if isinstance(rec, list):  # legacy: bare key == done
                key = self._valid_key(rec)
                if key is None:
                    continue
                self._seen.add(key)
                self._in_doubt.discard(key)
            elif isinstance(rec, dict):
                key = self._valid_key(rec.get("k"))
                if key is None:
                    continue
                if rec.get("s") == "done":
                    self._seen.add(key)
                    self._in_doubt.discard(key)
                elif key not in self._seen:
                    self._in_doubt.add(key)
        self._seen_offset += cut + 1

    @staticmethod
    def _valid_key(rec) -> tuple | None:
        """A well-formed ledger key is a flat list of JSON scalars
        (what `_key` produces); anything else is corruption."""
        if (isinstance(rec, list) and rec
                and all(isinstance(x, (str, int, float, bool)) or x is None
                        for x in rec)):
            return tuple(rec)
        return None

    def _append_ledger(self, key: tuple, state: str) -> None:
        with open(self._seen_path, "a") as f:
            f.write(json.dumps({"k": list(key), "s": state}) + "\n")
            f.flush()
            if state == "done":
                # fsync the "done" record (ADVICE r9): it is appended
                # AFTER publish() fsyncs the result events, and without
                # its own fsync background writeback could persist it
                # while the events vanish in a power loss — done-but-
                # never-published, the at-most-once window this
                # ordering exists to close.  "started" needs no fsync
                # of its own: losing it just downgrades a crash to the
                # documented re-execute (at-least-once) path, and any
                # later done-fsync flushes it anyway (same inode).
                os.fsync(f.fileno())

    def _key(self, tsr: dict) -> tuple:
        return (tsr["wf_run_id"], tsr["thread_id"],
                tsr["task_run_position"], tsr.get("attempt_number", 0))

    def handle(self, tsr: dict, timestamp: int, base_offset: int,
               publish: Callable[[list[dict]], None] | None = None) -> list[dict]:
        """One schedule request → [started_event, ended_event] wf_events
        (or [] if this task-run attempt was already executed).

        `publish`, when given, is called with the events BEFORE the
        "done" ledger append: "done" then means *the result events are
        durably published*, not merely built in memory.  Without it, a
        caller that publishes after handle() returns has a lost-result
        window — crash between the "done" append and its own publish
        and the attempt is marked done while the engine never sees the
        TASK_EVENTs (at-most-once for that result; only the engine's
        task-timeout retry recovers liveness).  A crash inside
        `publish` leaves the key in-doubt → re-executed on restart,
        the documented at-least-once fallback."""
        key = self._key(tsr)
        if key in self._seen:
            return []  # duplicate delivery — idempotent skip
        if key in self._in_doubt:
            # A prior process wrote the "started" intent but never the
            # "done" record: it crashed somewhere between invoking the
            # user function and appending completion.  The attempt MAY
            # have executed.  Surface the detection (the reference's
            # Kafka-txn path would abort the transaction here,
            # TaskWorker.java:102-142) and fall back to the documented
            # at-least-once contract: re-execute.
            self.detected_in_doubt.append(key)
            self._in_doubt.discard(key)
        self._seen.add(key)
        if self._seen_path:
            # Intent record BEFORE the user function: a crash after
            # fn() returns but before the "done" append is then
            # detected as in-doubt on restart instead of silently
            # re-executed as if never started.
            self._append_ledger(key, "started")

        fn = self.tasks.get(tsr["task_def_name"])
        base = {
            "wf_run_id": tsr["wf_run_id"],
            "wf_spec_id": tsr.get("wf_spec_id"),
            "wf_spec_name": tsr.get("wf_spec_name"),
            "event_type": "TASK_EVENT",
            "thread_id": tsr["thread_id"],
        }
        started = dict(base, timestamp=timestamp, offset=base_offset, content=json.dumps({
            "thread_id": tsr["thread_id"],
            "task_run_position": tsr["task_run_position"],
            "started_event": {"worker_id": self.worker_id, "stdin": None},
        }))
        if fn is None:
            result = {"stdout": None, "stderr":
                      f"No task function registered for {tsr['task_def_name']}",
                      "success": False, "returncode": 127}
        else:
            try:
                result = fn(tsr.get("variable_substitutions") or {})
            except Exception as e:  # noqa: BLE001 — worker errors = task failure
                result = {"stdout": None, "stderr": str(e),
                          "success": False, "returncode": 1}
        if result is None:
            # Same contract as the inline drain (fold.TaskExecutor):
            # None = picked up, never answers.  Only the started event
            # is posted; the engine's timeout timer terminates the
            # attempt.  Ledger still records the key — this attempt
            # was handled, and a redelivery must not re-start it.
            events = [started]
        else:
            events = [started, dict(
                base, timestamp=timestamp + 1, offset=base_offset + 1,
                content=json.dumps({
                    "thread_id": tsr["thread_id"],
                    "task_run_position": tsr["task_run_position"],
                    "ended_event": {"result": {
                        "stdout": result.get("stdout"),
                        "stderr": result.get("stderr"),
                        "success": bool(result.get("success", True)),
                        "returncode": result.get("returncode", 0),
                    }},
                }))]
        # Publish BEFORE the "done" record: the ledger's "done" must
        # mean the result events exist DURABLY (the reference's Kafka
        # txn commits offset and events together, TaskWorker.java:
        # 102-142).  A crash mid-publish leaves only the "started"
        # intent, so a restart re-executes (at-least-once) but KNOWS
        # it is re-executing (in-doubt detection).  Writing "done"
        # before fn()/publish would invert the contract into
        # at-most-once — a crash would mark the attempt done while
        # the engine never saw its events.
        if publish is not None:
            publish(events)
        if self._seen_path:
            self._append_ledger(key, "done")
        return events

    def drain(self, schedule_rows: list[dict], start_offset: int = 1000,
              timestamp: int = 2000) -> list[dict]:
        """Process a batch of schedule payloads → wf_event dicts."""
        out: list[dict] = []
        off = start_offset
        for tsr in schedule_rows:
            evs = self.handle(tsr, timestamp, off)
            out.extend(evs)
            off += len(evs)
        return out
