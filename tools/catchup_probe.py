"""Catch-up admission-control probe (VERDICT r12 item 3).

ENGINE_SCALE_r12 showed a 1M-event backlog folding correctly in ONE
190 s micro-batch — sub-linear and zero-spill, but a freshly POSTed
run arriving behind that batch waits the full fold, where the
reference's per-record scheduler admits it in milliseconds
(`scheduler/SchedulerProcessor.java:63-86`).  This probe measures the
fix: the backlog goes through `streaming.admission.CatchUpAdmission`
(row-granular paced release, live commands bypass the spool), and
fresh runs are POSTed WHILE the backlog drains.

Per cell it records:

- idle new-run round-trip p50/p95 (produce → read-your-writes
  barrier, the same metric as the scale probe's barrier row)
- catch-up new-run round-trips: fresh runs posted every ~2 s during
  the drain, p50/p95 — the pass criterion is p50 within ~2× idle p50
- drain wall + effective fold rate (the throughput price of pacing)
- an UNCAPPED contrast cell: the same backlog as one visible file
  (the r12 stress shape), one fresh run posted 2 s in — its RT is
  the whole remaining batch, the number admission control deletes.

    python tools/catchup_probe.py [--n 200000] [--caps 20000 50000]
        [--headline-n 1000000 --headline-cap 50000] [--out F]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bulk_table(spec_name: str, n: int, prefix: str = "run"):
    import pyarrow as pa

    base = time.time_ns() // 1000
    now_ms = int(time.time() * 1000)
    return pa.table({
        "wf_run_id": pa.array([f"{prefix}-{i:06d}-{uuid.uuid4().hex[:6]}"
                               for i in range(n)], pa.string()),
        "wf_spec_id": pa.array([None] * n, pa.string()),
        "wf_spec_name": pa.array([spec_name] * n, pa.string()),
        "event_type": pa.array(["WF_RUN_STARTED"] * n, pa.string()),
        "thread_id": pa.array([0] * n, pa.int32()),
        "timestamp": pa.array([now_ms] * n, pa.int64()),
        "offset": pa.array([base + i for i in range(n)], pa.int64()),
        "content": pa.array([json.dumps({"variables": {}})] * n,
                            pa.string()),
    })


def _write_one_file(events_dir: str, tbl) -> None:
    import pyarrow.parquet as pq

    d = os.path.join(events_dir, f"cmd-{uuid.uuid4().hex[:12]}")
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, ".part-00000.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.replace(tmp, os.path.join(d, "part-00000.parquet"))


def _fresh_run_rt(adm, q, spec_name: str, timeout: float = 600.0) -> float:
    """Produce one fresh run through the live fast path and wait out
    the read-your-writes barrier — the run is COMPLETED when the
    barrier releases (the probe executor folds tasks in-batch)."""
    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes)

    t0 = time.perf_counter()
    adm.submit_live({
        "wf_run_id": f"fresh-{uuid.uuid4().hex[:10]}",
        "wf_spec_name": spec_name,
        "event_type": "WF_RUN_STARTED",
        "content": json.dumps({"variables": {}}),
    })
    await_read_your_writes(q, timeout=timeout)
    return (time.perf_counter() - t0) * 1000.0


def _percentiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if not xs:
        return {"p50": None, "p95": None, "n": 0}
    return {"p50": round(xs[len(xs) // 2], 1),
            "p95": round(xs[min(len(xs) - 1, int(len(xs) * 0.95))], 1),
            "n": len(xs)}


def probe_cell(spark, n: int, cap: int | None,
               state_partitions: int = 8,
               trigger_seconds: float = 0.5) -> dict:
    """One (backlog-size, cap) cell.  cap=None is the uncapped
    contrast: backlog as one visible file, single mid-drain probe."""
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute
    from old_original_java_little_horse_spark.streaming.admission import (
        CatchUpAdmission)
    from old_original_java_little_horse_spark.streaming.engine import (
        await_read_your_writes, start_continuous)

    spec = all_cases()["basic"].spec
    workdir = tempfile.mkdtemp(prefix=f"catchup-{n}-{cap or 'uncapped'}-")
    events_dir = os.path.join(workdir, "events")
    os.makedirs(events_dir, exist_ok=True)
    q = start_continuous(
        spark, events_dir + "/*", spec,
        checkpoint_dir=os.path.join(workdir, "ckpt"),
        output_dir=os.path.join(workdir, "out"),
        serving_dir=os.path.join(workdir, "serving"),
        executor=execute,
        trigger_seconds=trigger_seconds,
        state_partitions=state_partitions)
    adm = CatchUpAdmission(events_dir, query=q,
                           max_rows_per_trigger=cap or 10**12)
    try:
        # Warm-up (codegen + workers) then idle round-trips.
        _fresh_run_rt(adm, q, spec["name"], timeout=180)
        idle = [_fresh_run_rt(adm, q, spec["name"], timeout=60)
                for _ in range(5)]

        backlog = _bulk_table(spec["name"], n)
        base_batch = (q.lastProgress or {}).get("batchId", -1)
        t0 = time.perf_counter()
        catchup_rts: list[float] = []
        # recentProgress is a ~100-entry ring; harvest inside the
        # drain loop so a long drain's early batches aren't lost.
        seen: dict[int, dict] = {}

        def _harvest():
            for p in list(q.recentProgress or []):
                if p and p.get("batchId", -1) > base_batch:
                    seen[p["batchId"]] = p

        if cap is None:
            # r12 stress shape: one giant visible file, one giant batch.
            _write_one_file(events_dir, backlog)
            time.sleep(2.0)
            catchup_rts.append(
                _fresh_run_rt(adm, q, spec["name"], timeout=1800))
        else:
            adm.spool_bulk(backlog)
            # Fresh runs every ~2 s while the spool drains; each RT is
            # serialized (produce → barrier → next), which is the
            # reference harness's POST cadence too.
            while adm.pending_rows() > 0:
                catchup_rts.append(
                    _fresh_run_rt(adm, q, spec["name"], timeout=1800))
                _harvest()
                time.sleep(2.0)
            adm.drain(timeout=600)
        # Wait until the whole backlog has folded (outstanding drains
        # to zero on progress feedback), then one final barrier to
        # close the last batch.
        deadline = time.monotonic() + max(300, n / 1000)
        while (cap is not None and adm.outstanding_rows() > 0
               and time.monotonic() < deadline):
            time.sleep(0.5)
        await_read_your_writes(q, timeout=600)
        wall = time.perf_counter() - t0

        _harvest()
        progress = [p for p in seen.values()
                    if p.get("numInputRows", 0) > 0]
        durs = sorted(p["durationMs"]["triggerExecution"] / 1000.0
                      for p in progress if "durationMs" in p)
        folded = sum(p.get("numInputRows", 0) for p in progress)
        idle_stats = _percentiles(idle)
        cu_stats = _percentiles(catchup_rts)
        return {
            "n_backlog": n,
            "cap_rows_per_trigger": cap,
            "state_partitions": state_partitions,
            "drain_wall_s": round(wall, 2),
            "fold_ev_per_s": int(folded / sum(durs)) if durs else None,
            "busy_batches": len(durs),
            "batch_s_median": round(durs[len(durs) // 2], 3) if durs else None,
            "batch_s_max": round(durs[-1], 3) if durs else None,
            "idle_rt_ms": idle_stats,
            "catchup_rt_ms": cu_stats,
            "catchup_over_idle_p50": (
                round(cu_stats["p50"] / idle_stats["p50"], 2)
                if cu_stats["p50"] and idle_stats["p50"] else None),
        }
    finally:
        adm.close()
        q.stop()
        shutil.rmtree(workdir, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--caps", type=int, nargs="*", default=[20_000, 50_000])
    ap.add_argument("--headline-n", type=int, default=None,
                    help="optional big-N run at --headline-cap only")
    ap.add_argument("--headline-cap", type=int, default=50_000)
    ap.add_argument("--parts", type=int, default=8)
    ap.add_argument("--skip-uncapped", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from old_original_java_little_horse_spark.session import get_spark

    spark = get_spark("catchup-probe")
    cells = []

    def flush():
        # Incremental: a killed/crashed run keeps its finished cells.
        if args.out:
            with open(args.out, "w") as f:
                f.write(json.dumps({
                    "metric": "catchup_admission_probe",
                    "cells": cells}) + "\n")

    def run(n, cap):
        r = probe_cell(spark, n, cap, state_partitions=args.parts)
        print(f"  N={n} cap={cap}: drain {r['drain_wall_s']}s, "
              f"idle p50 {r['idle_rt_ms']['p50']}ms, catch-up p50 "
              f"{r['catchup_rt_ms']['p50']}ms "
              f"(x{r['catchup_over_idle_p50']}), batch med/max "
              f"{r['batch_s_median']}/{r['batch_s_max']}s",
              file=sys.stderr)
        cells.append(r)
        flush()
        return r

    if not args.skip_uncapped:
        run(args.n, None)
    for cap in args.caps:
        run(args.n, cap)
    if args.headline_n:
        run(args.headline_n, args.headline_cap)

    print(json.dumps({
        "metric": "catchup_admission_probe",
        "cells": cells}))


if __name__ == "__main__":
    main()
