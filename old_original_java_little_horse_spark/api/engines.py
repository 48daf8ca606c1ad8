"""Per-WFSpec engine deployment: POST /wfSpec → a running topology.

In the reference, POSTing a WFSpec does not just store it — its
`processChange` deploys the spec's scheduler topology and workers
(`J/common/objects/metadata/WFSpec.java` deploy path; one event topic
per spec, `WFSpec.java:375-381`).  The Spark equivalent of "deploy a
topology" is "start a continuous Structured Streaming query": each
deployed spec owns an events directory (its event topic), a raw
tagged-output directory (its changelog), a compacted serving store
(its RocksDB), and a checkpointed streaming query (its topology).

The manager is control-plane: a handful of driver-side handles; all
data flows through the queries themselves.  `executor` is the task
implementation hook (the deployed worker fleet — `LocalDeployer` is
the process-isolated variant; here tasks run inline in the fold like
`cli.py --executor`).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from pathlib import Path

from ..engine.fold import TaskExecutor


@dataclass
class EngineHandle:
    spec: dict
    events_dir: str
    output_dir: str
    serving_dir: str
    query: object  # StreamingQuery


class SparkEngineManager:
    """Deploys/undeploys one continuous engine per WFSpec name — one
    query, checkpoint and state store per spec, like the reference's
    one scheduler topology per WFSpec (`Scheduler.java:29-47`).

    Construction fails when the engine's protobuf runtime cannot be
    resolved or when `base_dir` still holds the in-flight runs of a
    retired single-query-for-all-specs deployment
    (`_refuse_shared_root`), and a deploy over a checkpoint an older
    release wrote with the applyInPandasWithState engine raises before
    its query starts (`streaming.engine.refuse_legacy_checkpoint`).
    """

    def __init__(self, spark, base_dir: str,
                 executor: TaskExecutor | None = None,
                 trigger_seconds: float = 0.2,
                 barrier_timeout: float = 60.0,
                 state_partitions: int | None = 4):
        from ..streaming.engine import require_protobuf

        require_protobuf()  # fail at boot, not on the first deploy
        self.spark = spark
        self.base_dir = Path(base_dir)
        _refuse_shared_root(self.base_dir)
        self.executor = executor
        self.trigger_seconds = trigger_seconds
        self.barrier_timeout = barrier_timeout
        # Engine state-store fanout (see start_continuous docstring):
        # every state partition costs a store commit + an Arrow
        # round-trip per micro-batch even idle, and that batch
        # duration floors command latency through the read-your-writes
        # barrier.  Default 4 is the measured serving optimum
        # (tools/latency_sweep.py, r9: p50 1.51-1.60 s at 4 vs
        # 1.69-1.75 s at 8 and 2.0-2.4 s at 32 across triggers
        # 100-500 ms; barrier p50 1.45 s vs 1.85/2.02 s in
        # tools/engine_scale_probe.py).  Raise it for backfill-heavy
        # deployments — 32 drained a 5000-event backlog 2.5× faster
        # (2.9 s vs 7.4 s) — or pass None for the session conf.
        self.state_partitions = state_partitions
        self._engines: dict[str, EngineHandle] = {}
        # Serializes deploy/undeploy: metadata.post() calls on_change
        # OUTSIDE its own lock, so two concurrent POST /wfSpec handler
        # threads reach deploy() together — un-serialized, two deploys
        # of one name could leak a never-stopped query.  RLock:
        # stop_all calls undeploy under it.
        self._lock = threading.RLock()

    def deploy(self, spec: dict) -> EngineHandle:
        """Start (or restart, on spec update) the spec's engine."""
        from ..streaming.engine import start_continuous

        name = spec["name"]
        with self._lock:
            old = self._engines.pop(name, None)
            if old is not None:
                old.query.stop()
            root = self.base_dir / name
            events_dir = root / "events"
            events_dir.mkdir(parents=True, exist_ok=True)
            handle = EngineHandle(
                spec=spec,
                events_dir=str(events_dir),
                output_dir=str(root / "out"),
                serving_dir=str(root / "serving"),
                query=start_continuous(
                    self.spark, str(events_dir) + "/*", spec,
                    checkpoint_dir=str(root / "ckpt"),
                    output_dir=str(root / "out"),
                    serving_dir=str(root / "serving"),
                    executor=self.executor,
                    trigger_seconds=self.trigger_seconds,
                    state_partitions=self.state_partitions,
                ),
            )
            self._engines[name] = handle
            return handle

    def undeploy(self, name: str) -> None:
        """Stop serving `name`; its directories stay on disk, so a
        later deploy of the same name resumes its checkpoint."""
        with self._lock:
            handle = self._engines.pop(name, None)
            if handle is not None:
                handle.query.stop()

    def get(self, name: str) -> EngineHandle | None:
        return self._engines.get(name)  # single dict read: GIL-atomic

    def handles(self) -> list[EngineHandle]:
        # Snapshot under the lock: materializing .values() while a
        # deploy resizes the dict raises RuntimeError.
        with self._lock:
            return list(self._engines.values())

    def stop_all(self) -> None:
        with self._lock:
            for name in list(self._engines):
                self.undeploy(name)


def _refuse_shared_root(base_dir: Path) -> None:
    """Refuse an engines root where the single query for all specs of
    older releases (their `serve` shared mode) left committed work
    under `_shared/ckpt`.  Its in-flight runs live in that one
    checkpoint; the per-spec engines never resume it, so each later
    event for such a run would be dropped as an event for an unknown
    run and the run stranded without an error.  An empty or
    offsets-free `_shared` directory passes; a spec named `_shared`
    would own the same path and is refused alike."""
    ckpt = base_dir / "_shared" / "ckpt"
    try:
        committed = any(p.is_file() and not p.name.startswith(".")
                        for p in (ckpt / "offsets").iterdir())
    except OSError:
        return
    if committed:
        raise RuntimeError(
            f"checkpoint {ckpt} was written by the shared all-specs "
            f"engine of an older release; the per-spec engines do not "
            f"resume its runs — move the directory aside to boot")
