"""backlog_drain: the fold, the state store and the Spark-side sink.

One spec, `conditionals_edge_1` (two tasks, a branch, a mutation), is
deployed through `LittleHorseAPI` on the default `SparkEngineManager`.
Each drain writes one bulk file of seeded WF_RUN_STARTED rows into the
engine's events dir with `streaming.admission.write_event_file` and
times until every run of the file is COMPLETED in the serving store.
Drains repeat until the window ends.  The store is polled only after
the engine's progress reports the file's rows as folded, so the poll
does not compete with the engine.

Every served document is compared, in status, variables and task
outputs, with the document that `engine.fold.process_event` produces
single-threaded for the same input; that fold is also timed as the
`engine.fold_runs_per_s_1thread` baseline.
"""

from __future__ import annotations

import json
import random
import time

from . import common
from .common import expect, median

CASE = "conditionals_edge_1"
RUNS_PER_DRAIN = 3000   # folds to more rows than the sink's small-batch cut-off
WARM_RUNS = RUNS_PER_DRAIN  # the warm-up drain takes the same sink path
POLL_S = 0.1


def plan_inputs(seed: int, n_drains: int, runs: int = RUNS_PER_DRAIN) -> list[list[tuple[str, int]]]:
    """(run id, x) per run per drain, determined by `seed`."""
    rng = random.Random(seed)
    return [[(f"bd{seed}-{d}-{i}-{rng.getrandbits(32):08x}", rng.randint(0, 12))
             for i in range(runs)] for d in range(n_drains)]


def event_table(runs: list[tuple[str, int]], spec: dict, base_offset: int):
    import pyarrow as pa

    from old_original_java_little_horse_spark.streaming.admission import _event_arrow_schema

    now = int(time.time() * 1000)
    n = len(runs)
    return pa.table({
        "wf_run_id": [r for r, _ in runs],
        "wf_spec_id": [spec["id"]] * n,
        "wf_spec_name": [spec["name"]] * n,
        "event_type": ["WF_RUN_STARTED"] * n,
        "thread_id": pa.array([0] * n, pa.int32()),
        "timestamp": pa.array([now] * n, pa.int64()),
        "offset": pa.array(range(base_offset, base_offset + n), pa.int64()),
        "content": [json.dumps({"variables": {"x": x}}) for _, x in runs],
    }, schema=_event_arrow_schema())


def summary(doc: dict) -> dict:
    """What must agree between the engine and the single-threaded fold."""
    th = doc["thread_runs"]
    return {"status": doc["status"],
            "variables": [t["variables"] for t in th],
            "outputs": [[(tr["node_name"], tr["status"], tr["stdout"])
                         for tr in t["task_runs"]] for t in th]}


def fold_baseline(spec: dict, tables: list) -> tuple[dict[str, dict], float]:
    """Fold every input event through `process_event` on this thread.
    Returns ({run id: summary}, runs per second)."""
    from old_original_java_little_horse_spark.engine.fold import process_event
    from old_original_java_little_horse_spark.harness.executor import execute

    events = []
    for tbl in tables:
        for row in tbl.to_pylist():
            row["content"] = json.loads(row["content"])
            events.append(row)
    out = {}
    t0 = time.perf_counter()
    for ev in events:
        state, _ = process_event(spec, None, ev, executor=execute)
        out[ev["wf_run_id"]] = state
    rate = len(events) / (time.perf_counter() - t0)
    return {k: summary(v) for k, v in out.items()}, rate


def fold_rate_1thread(seed: int, runs: int = RUNS_PER_DRAIN) -> float:
    """`engine.fold_runs_per_s_1thread` on its own: the seeded inputs of
    one drain, folded single-threaded."""
    from old_original_java_little_horse_spark.harness.cases import all_cases

    spec = all_cases()[CASE].spec
    return fold_baseline(spec, [event_table(plan_inputs(seed, 1, runs)[0], spec, 1)])[1]


class Drainer:
    def __init__(self, handle):
        self.handle = handle

    def _folded_rows_since(self, batch_floor: int) -> int:
        return sum(p.get("numInputRows", 0) for p in self.handle.query.recentProgress
                   if p["batchId"] > batch_floor)

    def drain(self, tbl, run_ids: set[str]) -> float:
        """Land one bulk file and wait until all its runs are COMPLETED
        in the serving store.  Returns seconds."""
        from old_original_java_little_horse_spark.sinks.serving import read_all_snapshot_rows
        from old_original_java_little_horse_spark.streaming.admission import write_event_file

        recent = self.handle.query.recentProgress
        floor = recent[-1]["batchId"] if recent else -1
        t0 = time.perf_counter()
        write_event_file(self.handle.events_dir, tbl)
        deadline = time.monotonic() + 120
        while self._folded_rows_since(floor) < len(run_ids):
            expect(time.monotonic() < deadline, "backlog not folded in 120 s")
            time.sleep(POLL_S)
        while True:
            done = {r["wf_run_id"] for r in read_all_snapshot_rows(self.handle.serving_dir)
                    if r["status"] == "COMPLETED"}
            if run_ids <= done:
                return time.perf_counter() - t0
            expect(time.monotonic() < deadline, "backlog not served in 120 s")
            time.sleep(POLL_S)


def run(seed: int, seconds: float, trace: bool, tracer, clock) -> dict:
    from old_original_java_little_horse_spark.api.engines import SparkEngineManager
    from old_original_java_little_horse_spark.api.http_server import LittleHorseAPI
    from old_original_java_little_horse_spark.api.metadata import MetadataStore
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute
    from old_original_java_little_horse_spark.sinks import serving
    from old_original_java_little_horse_spark.sinks.serving import read_all_snapshot_rows

    from .streaming_layers import serving_store_stats, streaming_metrics
    from .trace import ProgressCollector

    work = clock.work
    case = all_cases()[CASE]
    t0 = time.perf_counter()
    spark = common.start_spark(work, trace)
    session_start_s = time.perf_counter() - t0
    cores = spark.sparkContext.defaultParallelism
    if trace:
        tracer.wrap(serving, "upsert_serving_stores", "sinks.upsert_spark")
        tracer.wrap(serving, "upsert_serving_stores_arrow", "sinks.upsert_arrow")
    mgr = SparkEngineManager(spark, str(work / "engines"), executor=execute)
    api = LittleHorseAPI(spark, metadata=MetadataStore(str(work / "meta")),
                         engines=mgr)
    progress = ProgressCollector(lambda: [h.query for h in mgr.handles()])
    drains_s: list[float] = []
    inputs = plan_inputs(seed, 64)
    warm_runs = plan_inputs(seed ^ 0x5EED, 1, WARM_RUNS)[0]
    try:
        for td in case.task_defs:
            api.post_metadata("taskDef", {"name": td})
        t1 = time.perf_counter()
        spec = api.post_metadata("wfSpec", case.spec)
        deploy_s = time.perf_counter() - t1
        handle = mgr.get(spec["name"])
        drainer = Drainer(handle)
        tables = []
        base = 1
        warm_tbl = event_table(warm_runs, spec, base)
        base += len(warm_runs)
        drainer.drain(warm_tbl, {r for r, _ in warm_runs})
        tracer.spans.clear()
        setup_s = clock.since_start()
        progress.start()
        win0 = time.perf_counter()
        cpu0 = common.tree_cpu_seconds()
        for runs in inputs:
            if drains_s and time.perf_counter() - win0 >= seconds:
                break
            tbl = event_table(runs, spec, base)
            base += len(runs)
            tables.append(tbl)
            drains_s.append(drainer.drain(tbl, {r for r, _ in runs}))
        cpu_s = common.tree_cpu_seconds() - cpu0
        batches = progress.stop()
        served = {r["wf_run_id"]: summary(json.loads(r["state_json"]))
                  for r in read_all_snapshot_rows(handle.serving_dir)}
        store = serving_store_stats([handle.serving_dir])
        ckpt = handle.serving_dir.rsplit("/", 1)[0] + "/ckpt"
    finally:
        mgr.stop_all()
        common.stop_spark(spark)

    expected, fold_rate = fold_baseline(spec, tables)
    mismatched = [rid for rid, want in expected.items() if served.get(rid) != want]
    runs_total = sum(t.num_rows for t in tables)
    rates = [t.num_rows / s for t, s in zip(tables, drains_s)]
    drain_rate = median(rates)
    e2e = {"latency_ms": median(drains_s) * 1000.0}
    layers = {
        "session.start_s": session_start_s,
        "api.deploy_s": deploy_s,
        "drain_runs_per_s": drain_rate,
        "throughput_per_s": drain_rate,
        "cpu_s_per_op": cpu_s / max(1, runs_total),
        "engine.fold_runs_per_s_1thread": fold_rate,
        "streaming.parallel_efficiency": drain_rate / (cores * fold_rate),
        "sinks.store_files": store["files"],
        "sinks.store_bytes_per_run": (store["bytes"] / (runs_total + WARM_RUNS)
                                      if store["bytes"] else None),
    }
    layers.update(streaming_metrics(batches, [ckpt]))
    if trace:
        layers["sinks.upsert_spark_s"] = tracer.total_s("sinks.upsert_spark")
        layers["sinks.upsert_arrow_ms_p50"] = median(tracer.ms("sinks.upsert_arrow"))
    return {
        "attempted": runs_total, "failed": len(mismatched),
        "setup_s": setup_s, "e2e": e2e, "layers": layers,
        "info": {"session_cores": cores, "drains": len(drains_s),
                 "drain_s": drains_s, "runs_per_drain": RUNS_PER_DRAIN,
                 "errors": mismatched[:20]},
    }

