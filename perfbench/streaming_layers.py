"""Per-layer numbers of the continuous engine, read from Spark's own
streaming progress and from the files the engine leaves on disk."""

from __future__ import annotations

import os
from pathlib import Path

from .common import median


def _size(path: str) -> int:
    try:
        return os.path.getsize(path)
    except OSError:  # removed by a concurrent commit
        return 0


def _files(root, suffix: str = "") -> list[str]:
    return [os.path.join(dp, n) for dp, _dirs, names in os.walk(root)
            for n in names if n.endswith(suffix)]


def serving_store_stats(serving_dirs: list[str]) -> dict:
    """Parquet files and bytes held by the serving stores (None for an
    empty store)."""
    files = [f for d in serving_dirs for f in _files(d, ".parquet")]
    if not files:
        return {"files": None, "bytes": None}
    return {"files": len(files), "bytes": sum(_size(f) for f in files)}


def _dur(p: dict, *keys: str) -> float:
    d = p.get("durationMs") or {}
    return float(sum(d.get(k, 0) for k in keys))


def _state_sum(p: dict, key: str) -> float:
    return float(sum(op.get(key, 0) for op in p.get("stateOperators") or []))


def streaming_metrics(batches: list[dict], ckpt_dirs: list[str]) -> dict:
    """Per-layer numbers from the progress of the window's batches.
    Without batches (or without busy ones) the numbers they would give
    are None: an empty progress set is not a measurement."""
    busy = [b for b in batches if b.get("numInputRows", 0) > 0]
    last: dict[str, dict] = {}
    for b in sorted(batches, key=lambda b: b["batchId"]):
        last[b["id"]] = b
    state_files = [f for c in ckpt_dirs for f in _files(Path(c) / "state")]

    def over_last(key: str, scale: float = 1.0) -> float | None:
        return sum(_state_sum(b, key) for b in last.values()) / scale if busy else None

    return {
        "streaming.trigger_ms_p50": median([_dur(b, "triggerExecution") for b in busy]),
        "streaming.add_batch_ms_p50": median([_dur(b, "addBatch") for b in busy]),
        "streaming.latest_offset_ms_p50": median([_dur(b, "latestOffset") for b in busy]),
        "streaming.planning_ms_p50": median([_dur(b, "queryPlanning") for b in busy]),
        "streaming.commit_ms_p50": median(
            [_dur(b, "walCommit", "commitOffsets") for b in busy]),
        "streaming.idle_batch_share": ((len(batches) - len(busy)) / len(batches)
                                       if batches else None),
        "streaming.rows_per_batch_p50": median([b["numInputRows"] for b in busy]),
        "streaming.busy_batches": float(len(busy)) if busy else None,
        "state.rows_total": over_last("numRowsTotal"),
        "state.memory_mb": over_last("memoryUsedBytes", 2**20),
        "state.disk_mb": (sum(_size(f) for f in state_files) / 2**20
                          if state_files else None),
        "state.commit_ms_p50": median([_state_sum(b, "commitTimeMs") for b in busy]),
        "state.update_ms": median([_state_sum(b, "allUpdatesTimeMs") for b in busy]),
    }
