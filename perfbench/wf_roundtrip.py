"""wf_roundtrip: the user's command and lookup path.

A closed loop of `CLIENTS` threads against the in-process HTTP server
(`LittleHorseHTTPServer` over `LittleHorseAPI` and the default
`SparkEngineManager`).  Three harness specs are deployed: `basic`,
`external_event_basic` and `sleep_basic`.  Each client cycles through
them; one step is POST /wfrun, the external event (for that spec),
a 50 ms GET /wfrun poll until the run is terminal, GET
threadRun/taskRun/variable, GET /search on the run's unique alias and
GET /wfruns?limit=50.  Every served document is checked.

Set-up ends with the deploys.  The loop then runs at least `WARM_S`
seconds, and until every client's first (cold) command is answered,
before the window opens, so the window sees a steady loop rather than a
synchronized start; a run counts in the window it ends in, and the
window stays open until it holds a run of every case.  The end-to-end
latency is the mean acknowledged command (POST /wfrun, POST
/externalEvent), which takes the same produce + barrier path for every
case.
"""

from __future__ import annotations

import json
import random
import statistics
import threading
import time
import urllib.error
import urllib.request
from dataclasses import dataclass

from old_original_java_little_horse_spark.harness.runner import TERMINAL

from . import common
from .common import expect, median, pct, tail_pct

CASES = ("basic", "external_event_basic", "sleep_basic")
CLIENTS = 4
WARM_S = 5.0  # least closed-loop warm-up before the window opens
POLL_S = 0.05  # the reference's barrier/poll period
TAG_VAR = "pb_tag"  # STRING variable added to each spec: the run's alias


def tagged_spec(spec: dict) -> dict:
    """The case's spec plus one declared STRING variable, so every run
    has a unique alias to search for."""
    spec = json.loads(json.dumps(spec))
    entry = spec["thread_specs"][spec["entrypoint_thread_name"]]
    entry.setdefault("variable_defs", {})[TAG_VAR] = {
        "type": "STRING", "default_value": ""}
    return spec


@dataclass
class Step:
    """One planned run: everything the seed decides."""
    case: str
    run_id: str
    tag: str
    payload: str | None


def plan(seed: int, clients: int = CLIENTS, per_client: int = 400) -> list[list[Step]]:
    """Per-client step sequences, fully determined by `seed`: run ids,
    alias values, event payloads and case order."""
    rng = random.Random(seed)
    out = []
    for c in range(clients):
        order = list(CASES)
        rng.shuffle(order)
        steps = []
        for k in range(per_client):
            case = order[k % len(order)]
            rid = f"pb{seed}-{c}-{k}-{rng.getrandbits(40):010x}"
            tag = f"t{rng.getrandbits(48):012x}"
            payload = (f"evt-{rng.getrandbits(48):012x}"
                       if case == "external_event_basic" else None)
            steps.append(Step(case, rid, tag, payload))
        out.append(steps)
    return out


class Client:
    def __init__(self, base: str, tracer):
        self.base = base
        self.tracer = tracer
        # (start, end, ms, label) per request
        self.command_ms: list[tuple[float, float, float, str]] = []
        self.read_ms: list[tuple[float, float, float, str]] = []

    def req(self, method: str, path: str, body=None, run_id=None, label=""):
        data = None if body is None else json.dumps(body).encode()
        r = urllib.request.Request(
            self.base + path, data=data, method=method,
            headers={"Content-Type": "application/json"})
        kind = "client.post" if method == "POST" else "client.get"
        t0 = time.perf_counter()
        with self.tracer.span(kind, run_id):
            try:
                with urllib.request.urlopen(r, timeout=120) as resp:
                    status, raw = resp.status, resp.read()
            except urllib.error.HTTPError as e:
                status, raw = e.code, e.read()
        t1 = time.perf_counter()
        (self.command_ms if method == "POST" else self.read_ms).append(
            (t0, t1, (t1 - t0) * 1000.0, label))
        return status, (json.loads(raw) if raw else None)


@dataclass
class RunResult:
    step: Step
    ok: bool
    run_ms: float = 0.0
    error: str = ""
    end: float = 0.0  # perf_counter when the step finished
    timer_ms: float | None = None  # sleep runs: matured timer → served


def check_doc(case, step: Step, doc: dict) -> None:
    expect(doc["status"] == "COMPLETED", doc["status"])
    th = doc["thread_runs"][0]
    expect(th["variables"][TAG_VAR] == step.tag)
    if step.payload is not None:
        # external_event_basic: the case's check with the seeded payload
        expect(th["variables"]["answer"] == step.payload)
        expect(th["task_runs"][-1]["stdout"] == step.payload)
    else:
        case.launches[0].check(doc)


def run_step(cl: Client, case, spec_name: str, step: Step) -> RunResult:
    r = _run_step(cl, case, spec_name, step)
    r.end = time.perf_counter()
    return r


def _run_step(cl: Client, case, spec_name: str, step: Step) -> RunResult:
    t0 = time.perf_counter()
    try:
        st, body = cl.req("POST", "/wfrun", {
            "wf_spec_name": spec_name, "run_id": step.run_id,
            "variables": {TAG_VAR: step.tag}}, run_id=step.run_id,
            label=f"wfrun:{step.case}")
        expect(st == 201 and body["id"] == step.run_id, (st, body))
        if step.payload is not None:
            ev = case.event_defs[0]
            st, body = cl.req("POST", f"/externalEvent/{step.run_id}/{ev}",
                              step.payload, run_id=step.run_id, label="event")
            expect(st == 200, (st, body))
        deadline = time.monotonic() + 60
        while True:
            st, doc = cl.req("GET", f"/wfrun/{step.run_id}", run_id=step.run_id)
            if st == 200 and doc.get("status") in TERMINAL:
                break
            expect(time.monotonic() < deadline, ("not terminal in 60 s", doc))
            time.sleep(POLL_S)
        run_ms = (time.perf_counter() - t0) * 1000.0
        served_at_ms = time.time() * 1000.0
        check_doc(case, step, doc)
        timer_ms = None
        if case.name == "sleep_basic":
            # The sleep node's end_time is the timer's maturation time.
            timer_ms = served_at_ms - doc["thread_runs"][0]["task_runs"][1]["end_time"]
        rid = step.run_id
        st, th = cl.req("GET", f"/wfrun/{rid}/threadRun/0", run_id=rid)
        expect(st == 200 and th == doc["thread_runs"][0], st)
        st, tr = cl.req("GET", f"/wfrun/{rid}/taskRun/0/0", run_id=rid)
        expect(st == 200 and tr == doc["thread_runs"][0]["task_runs"][0], st)
        st, v = cl.req("GET", f"/wfrun/{rid}/variable/{TAG_VAR}", run_id=rid)
        expect(st == 200 and v["value"] == step.tag, (st, v))
        st, hits = cl.req("GET", f"/search/{TAG_VAR}/{step.tag}", run_id=rid)
        expect(st == 200 and hits == [rid], (st, hits))
        st, page = cl.req("GET", "/wfruns?limit=50", run_id=rid)
        expect(st == 200 and 0 < len(page["results"]) <= 50, (st, page))
        return RunResult(step, True, run_ms, timer_ms=timer_ms)
    except Exception as e:  # noqa: BLE001 — a failed check is a counted failure
        return RunResult(step, False, error=f"{type(e).__name__}: {e}")


def _install_tracing(tracer) -> None:
    from old_original_java_little_horse_spark import cli
    from old_original_java_little_horse_spark.sinks import serving
    from old_original_java_little_horse_spark.streaming import engine

    tracer.wrap(cli, "_write_event", "api.produce",
                run_id_of=lambda a, k: (a[2] if len(a) > 2 else k["row"])["wf_run_id"])
    tracer.wrap(engine, "await_read_your_writes", "api.barrier")
    tracer.wrap(serving, "upsert_serving_stores_arrow", "sinks.upsert_arrow")
    tracer.wrap(serving, "upsert_serving_stores", "sinks.upsert_spark")
    tracer.wrap(serving, "read_snapshot_rows", "sinks.point_read")
    tracer.wrap(serving, "search_alias_ids", "sinks.search")
    tracer.wrap(serving, "read_snapshot_rows_page", "sinks.page_read")


def http_minus_server_ms(tracer) -> list[float]:
    """Per command: client POST time minus the server's produce and
    barrier time for the same command (same run id, server spans
    inside the client span)."""
    server = {n: tracer.by_run(n) for n in ("api.produce", "api.barrier")}
    out = []
    for rid, posts in tracer.by_run("client.post").items():
        for c in posts:
            inner = [[s for s in server[n].get(rid, []) if c.start <= s.start and s.end <= c.end]
                     for n in server]
            if all(len(x) == 1 for x in inner):
                out.append((c.end - c.start - sum(x[0].end - x[0].start for x in inner)) * 1000.0)
    return out


def run(seed: int, seconds: float, trace: bool, tracer, clock) -> dict:
    """Returns {"attempted", "failed", "setup_s", "e2e", "layers", "info"}."""
    from old_original_java_little_horse_spark.api.engines import SparkEngineManager
    from old_original_java_little_horse_spark.api.http_server import (
        LittleHorseAPI, LittleHorseHTTPServer)
    from old_original_java_little_horse_spark.api.metadata import MetadataStore
    from old_original_java_little_horse_spark.harness.cases import all_cases
    from old_original_java_little_horse_spark.harness.executor import execute

    from .trace import ProgressCollector
    from .streaming_layers import serving_store_stats, streaming_metrics

    work = clock.work
    cases = {n: all_cases()[n] for n in CASES}
    specs = {n: tagged_spec(c.spec) for n, c in cases.items()}
    t0 = time.perf_counter()
    spark = common.start_spark(work, trace)
    session_start_s = time.perf_counter() - t0
    cores = spark.sparkContext.defaultParallelism
    if trace:
        _install_tracing(tracer)
    mgr = SparkEngineManager(spark, str(work / "engines"), executor=execute)
    api = LittleHorseAPI(spark, metadata=MetadataStore(str(work / "meta")),
                         engines=mgr)
    srv = LittleHorseHTTPServer(api).start()
    base = f"http://127.0.0.1:{srv.port}"
    progress = ProgressCollector(lambda: [h.query for h in mgr.handles()])
    results: list[RunResult] = []
    try:
        boot = Client(base, tracer)
        deploy_s = 0.0
        for n, c in cases.items():
            for td in c.task_defs:
                expect(boot.req("POST", "/taskDef", {"name": td})[0] in (200, 201))
            for ev in c.event_defs:
                expect(boot.req("POST", "/externalEventDef", {"name": ev})[0] in (200, 201))
            t1 = time.perf_counter()
            st, body = boot.req("POST", "/wfSpec", specs[n])
            deploy_s += time.perf_counter() - t1
            expect(st in (200, 201), (st, body))
        setup_s = clock.since_start()
        # The clients start right away; their first WARM_S seconds warm
        # every path (Python workers, codegen, serving stores) and bring
        # the loop to a steady state, so the window sees no synchronized
        # start.  A run counts in the window it ends in.
        steps = plan(seed)
        clients = [Client(base, tracer) for _ in steps]
        done: list[RunResult] = []
        stop = threading.Event()

        def loop(i: int) -> None:
            for step in steps[i]:
                if stop.is_set():
                    return
                done.append(run_step(
                    clients[i], cases[step.case], specs[step.case]["name"], step))

        # Runs in flight when the window closes are abandoned (the
        # threads are daemons).
        threads = [threading.Thread(target=loop, args=(i,), daemon=True)
                   for i in range(len(steps))]
        for t in threads:
            t.start()
        win_deadline = time.perf_counter() + 120
        time.sleep(WARM_S)
        # ... and at least until every client's first (cold) command is
        # answered.
        while (not all(c.command_ms for c in clients)
               and time.perf_counter() < win_deadline):
            time.sleep(0.05)
        tracer.spans.clear()
        progress.start()
        win0 = time.perf_counter()
        cpu0 = common.tree_cpu_seconds()
        time.sleep(seconds)

        def cases_seen() -> set[str]:
            return {r.step.case for r in list(done) if r.end >= win0 and r.ok}

        # A window too short for a run of every case stays open until it
        # has one, so every per-case number has a sample.
        while cases_seen() != set(CASES) and time.perf_counter() < win0 + 120:
            time.sleep(0.05)
        win1 = time.perf_counter()
        stop.set()
        window_s = win1 - win0
        cpu_s = common.tree_cpu_seconds() - cpu0
        batches = progress.stop()
        results = [r for r in list(done) if r.end < win1]
        in_window = [r for r in results if r.end >= win0]
        store = serving_store_stats([h.serving_dir for h in mgr.handles()])
        ckpts = [h.serving_dir.rsplit("/", 1)[0] + "/ckpt" for h in mgr.handles()]
    finally:
        srv.stop()
        mgr.stop_all()
        common.stop_spark(spark)

    ok = [r for r in in_window if r.ok]
    # Requests issued and answered inside the window.  Each client's
    # first command waits for the engines' cold first micro-batches and
    # returns just after the warm-up; it is not a steady-state sample.
    def in_window(samples):
        return sorted(x for c in clients for x in list(getattr(c, samples))
                      if win0 <= x[0] and x[1] < win1)

    commands = in_window("command_ms")
    command_ms = [ms for _s, _e, ms, _label in commands]
    read_ms = [ms for _s, _e, ms, _label in in_window("read_ms")]
    run_ms = [r.run_ms for r in ok]
    p90, p90_q = tail_pct(command_ms, 90)
    r95, r95_q = tail_pct(read_ms, 95)
    # Latency is the mean acknowledged command (POST /wfrun, POST
    # /externalEvent).  Every command takes the same produce + barrier
    # path, so it does not depend on the mix of cases that finished in
    # the window, as a pooled run latency would.  The clients fall into
    # step with the engines' micro-batches, and their commands wait in a
    # few distinct clusters (a whole batch, part of one); the median
    # jumps between clusters from run to run, the mean moves smoothly.
    e2e = {
        "latency_ms": statistics.fmean(command_ms) if command_ms else None,
    }
    layers = {
        "session.start_s": session_start_s,
        "api.deploy_s": deploy_s,
        "command_ms_p50": median(command_ms),
        "command_ms_p90": p90,
        "run_ms_p50": median(run_ms),
        "runs_per_s": len(ok) / window_s,
        "throughput_per_s": len(ok) / window_s,
        "cpu_s_per_op": cpu_s / max(1, len(ok)),
        "read_ms_p50": median(read_ms),
        "read_ms_p95": r95,
    }
    for n in CASES:
        layers[f"case.{n}.run_ms_p50"] = median(
            [r.run_ms for r in ok if r.step.case == n])
    layers["timers.fire_delay_ms_p50"] = median(
        [r.timer_ms for r in ok if r.timer_ms is not None])
    layers.update(streaming_metrics(batches, ckpts))
    layers.update({
        "sinks.store_files": store["files"],
        "sinks.store_bytes_per_run": (store["bytes"] / len(results)
                                      if store["bytes"] and results else None),
    })
    if trace:
        from .backlog_drain import fold_rate_1thread

        layers["engine.fold_runs_per_s_1thread"] = fold_rate_1thread(seed)
        layers.update({
            "api.produce_ms_p50": median(tracer.ms("api.produce")),
            "api.barrier_ms_p50": median(tracer.ms("api.barrier")),
            "api.barrier_ms_p90": pct(tracer.ms("api.barrier"), 90),
            "api.http_ms_p50": median(http_minus_server_ms(tracer)),
            "sinks.upsert_arrow_ms_p50": median(tracer.ms("sinks.upsert_arrow")),
            "sinks.upsert_spark_s": tracer.total_s("sinks.upsert_spark"),
            "sinks.point_read_ms_p50": median(tracer.ms("sinks.point_read")),
            "sinks.search_ms_p50": median(tracer.ms("sinks.search")),
            "sinks.page_read_ms_p50": median(tracer.ms("sinks.page_read")),
        })
    # Every run that ended before the window closed is checked,
    # warm-up runs included.
    errors = [f"{r.step.run_id}: {r.error}" for r in results if not r.ok]
    return {
        "attempted": len(results), "failed": len(errors),
        "setup_s": setup_s, "e2e": e2e, "layers": layers,
        "info": {"window_s": window_s, "session_cores": cores, "samples": {
            "runs": len(run_ms), "commands": len(command_ms),
            "reads": len(read_ms)}, "commands": [(round(a - win0, 3), ms, k) for a, _e, ms, k in commands],
            "command_ms_p90_used_pct": p90_q, "read_ms_p95_used_pct": r95_q,
            "errors": errors[:20]},
    }
