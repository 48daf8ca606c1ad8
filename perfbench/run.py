#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line of
standard output.

    python3 perfbench/run.py --workload wf_roundtrip --seed 1 --seconds 25 --trace 0

Workloads: wf_roundtrip, batch_queries, backlog_drain (see
perfbench/README.md).  With ``--trace 0`` the result carries every
end-to-end metric; with ``--trace 1`` every per-layer metric.  The
result line is

    {"correct": ..., "attempted": N, "failed": M,
     "metrics": {name: {"value": v, "unit": u}, ...}}

Run it from the root of a checkout: it imports the package from there
and keeps every file it writes under ``.perfbench_work/``.  A full
artifact (host stamp, engine defaults, sample counts, errors) is
written to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, REQUIRED  # noqa: E402

# backlog_drain is runnable by hand; BENCHMARK.json lists the other two
# (see README.md, "Why two workloads are gated").
WORKLOADS = ("wf_roundtrip", "batch_queries", "backlog_drain")


class Clock:
    """Time since this process started (from /proc), the origin of
    `setup_s`."""

    def __init__(self, work: Path):
        self.work = work
        try:
            start_ticks = int(Path("/proc/self/stat").read_text()
                              .rsplit(")", 1)[1].split()[19])
            uptime = float(Path("/proc/uptime").read_text().split()[0])
            already = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        except (OSError, ValueError, IndexError):
            already = 0.0
        self._t0 = time.perf_counter() - max(0.0, already)

    def since_start(self) -> float:
        return time.perf_counter() - self._t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = common.make_workdir(f"{args.workload}-s{args.seed}-t{args.trace}")
    clock = Clock(work)
    try:
        import old_original_java_little_horse_spark  # noqa: F401
    except ImportError as e:
        common.log(f"perfbench: the package is not importable here: {e}")
        common.remove_workdir(work)
        return 2

    from perfbench.trace import Tracer

    wl = importlib.import_module(f"perfbench.{args.workload}")

    tracer = Tracer(bool(args.trace))
    sampler = common.TreeSampler().start()
    cpu_before = sampler.cpu_seconds()
    before = common.host_stamp()
    try:
        res = wl.run(args.seed, args.seconds, bool(args.trace), tracer, clock)
    except Exception:  # noqa: BLE001 — no result line on a crashed run
        common.log(traceback.format_exc())
        sampler.stop()
        return 1
    finally:
        tracer.unwrap_all()
        common.remove_workdir(work)
    after = common.host_stamp()
    peak_rss_mb = sampler.stop()
    ours_s = sampler.cpu_seconds() - cpu_before

    e2e = {"setup_s": res["setup_s"], **res["e2e"]}
    attempted, failed = res["attempted"], res["failed"]
    missing = [n for n, v in e2e.items() if v is None]
    if args.trace:
        layers = {**res["layers"], "peak_rss_mb": peak_rss_mb,
                  **{f"traced.{k}": v for k, v in e2e.items()}}
        # A layer this workload must measure but got no samples for is a
        # failed check; a layer it does not touch reads 0.
        missing += [n for n in REQUIRED[args.workload] if layers.get(n) is None]
        chosen = {n: float(layers.get(n) or 0.0) for n in PER_LAYER}
        units = PER_LAYER
    else:
        chosen = {n: float(e2e[n] or 0.0) for n in END_TO_END}
        units = END_TO_END
    if missing:
        common.log(f"perfbench: no samples for {missing}")
        attempted += len(missing)
        failed += len(missing)
    out = {
        "correct": failed == 0 and attempted > 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in chosen.items()},
    }
    artifact = {
        "args": vars(args), "result": out, "e2e": e2e, "peak_rss_mb": peak_rss_mb,
        "layers": res["layers"], "info": res["info"], "missing": missing,
        "host": {"nproc": os.cpu_count(),
                 "session_cores": res["info"].get("session_cores"),
                 "before": before, "after": after,
                 "steal_share": common.steal_share(before, after),
                 "foreign_cpu_share": common.foreign_cpu_share(before, after, ours_s)},
        "engine_defaults": common.engine_defaults(),
    }
    if args.trace:
        artifact["spans"] = tracer.dump()
    path = common.write_artifact(
        f"{args.workload}-seed{args.seed}-trace{args.trace}", artifact)
    common.log(f"perfbench: artifact {path}")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
