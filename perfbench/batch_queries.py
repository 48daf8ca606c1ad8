"""batch_queries: the operator and function layers under Catalyst.

A fixed set of registered queries (`metrics.BATCH_QUERIES`, two per
family) runs over the repository's generated tables
(`tools/gen_scale_data.py`, fixed seed) at scale factor `SF`.  Each
execution is timed with `df.write.format("noop").mode("overwrite").save()`,
which computes every column the query returns.  Full passes over the
set, each in a seeded order, repeat until at least `MIN_PASSES` are done
and the window has ended, so every query has the same number of samples;
a query's time is its median over them.

Set-up warms every query with one noop pass.  After the window, every
query's result is checked against its DuckDB oracle with
`tests/oracle_compare.compare`, outside the timed passes.
"""

from __future__ import annotations

import contextlib
import random
import sys
import time

from . import common
from .common import median
from .metrics import BATCH_FAMILIES, BATCH_QUERIES, family_of

SF = 0.01
MIN_PASSES = 3


def query_order(seed: int, passes: int) -> list[list[str]]:
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(BATCH_QUERIES)
        rng.shuffle(order)
        out.append(order)
    return out


def noop_write(spark, data_dir: str, spec) -> None:
    spec.fn(spark, data_dir).write.format("noop").mode("overwrite").save()


def run(seed: int, seconds: float, trace: bool, tracer, clock) -> dict:
    from old_original_java_little_horse_spark.registry import all_queries
    from old_original_java_little_horse_spark.session import ship_package
    from tests.oracle_compare import compare
    from tools.gen_scale_data import gen

    from .trace import stage_metrics

    work = clock.work
    data_dir = str(work / "data")
    t0 = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):  # gen reports per table
        gen(SF, data_dir)
    gen_s = time.perf_counter() - t0  # benchmark input, not set-up
    t0 = time.perf_counter()
    spark = common.start_spark(work, trace)
    session_start_s = time.perf_counter() - t0
    cores = spark.sparkContext.defaultParallelism
    sc = spark.sparkContext
    specs = all_queries()
    attempted = failed = 0
    errors: list[str] = []
    times: dict[str, list[float]] = {q: [] for q in BATCH_QUERIES}
    try:
        ship_package(spark)
        t1 = time.perf_counter()
        for q in query_order(seed ^ 0x5EED, 1)[0]:
            noop_write(spark, data_dir, specs[q])
        warm_s = time.perf_counter() - t1
        setup_s = clock.since_start() - gen_s
        win0 = time.perf_counter()
        cpu0 = common.tree_cpu_seconds()
        for k, order in enumerate(query_order(seed, 1000)):
            if k >= MIN_PASSES and time.perf_counter() - win0 >= seconds:
                break
            for q in order:
                sc.setJobGroup(family_of(q), q)
                attempted += 1
                a = time.perf_counter()
                try:
                    noop_write(spark, data_dir, specs[q])
                except Exception as e:  # noqa: BLE001 — counted, run goes on
                    failed += 1
                    errors.append(f"{q}: {type(e).__name__}: {e}"[:300])
                    continue
                times[q].append(time.perf_counter() - a)
        window_s = time.perf_counter() - win0
        cpu_s = common.tree_cpu_seconds() - cpu0
        sc.setLocalProperty("spark.jobGroup.id", None)
        stages = stage_metrics(spark, list(BATCH_FAMILIES)) if trace else {}
        t2 = time.perf_counter()
        for q in BATCH_QUERIES:
            attempted += 1
            try:
                res = compare(spark, data_dir, q, specs[q])
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                res = {"ok": False, "error": f"{type(e).__name__}: {e}"[:300]}
            if not res["ok"]:
                failed += 1
                errors.append(f"{q}: oracle: {res}"[:600])
        check_s = time.perf_counter() - t2
    finally:
        common.stop_spark(spark)

    per_q = {q: median(ts) for q, ts in times.items()}
    if None in per_q.values():
        raise common.CheckFailed(f"queries without a timed execution: {errors}")
    fam = {f: sum(per_q[q] for q in qs) for f, qs in BATCH_FAMILIES.items()}
    # A pass over the set, from each query's median time.
    executions = sum(len(t) for t in times.values())
    e2e = {"latency_ms": sum(per_q.values()) * 1000.0}
    layers = {
        "session.start_s": session_start_s,
        "batch.warm_s": warm_s,
        "throughput_per_s": executions / window_s,
        "cpu_s_per_op": cpu_s / max(1, executions),
        "batch_total_s": sum(per_q.values()),
        **{f"batch_{f}_s": v for f, v in fam.items()},
        **{f"query.{q}_s": v for q, v in per_q.items()},
    }
    for f, m in stages.items():
        for k, v in m.items():
            layers[f"spark.{k}.{f}"] = v
    return {
        "attempted": attempted, "failed": failed, "setup_s": setup_s,
        "e2e": e2e, "layers": layers,
        "info": {"session_cores": cores, "sf": SF, "samples": times,
                 "window_s": window_s, "gen_s": gen_s,
                 "check_s": check_s, "errors": errors[:20]},
    }
