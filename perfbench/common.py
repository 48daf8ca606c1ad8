"""Shared plumbing for the workloads: a private work directory inside
the checkout, the Spark session, host stamps, percentiles and the
peak-RSS sampler.

Everything a run writes lives under ``.perfbench_work/`` at the
checkout root (temp files, Spark local dirs, engine checkpoints,
serving stores, generated tables); the run directory is removed at
exit and only the result artifact under ``.perfbench_work/results``
is kept.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"


def make_workdir(tag: str) -> Path:
    """Create this run's private directory and point every temp-file
    consumer (Python's tempfile, Spark local dirs, the JVM) into it.
    Must run before pyspark is imported."""
    work = WORK_ROOT / f"{tag}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def remove_workdir(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)


def start_spark(work: Path, trace: bool):
    """The package's own session (`session.get_spark`) with its
    defaults; the extra confs only keep files inside the checkout and,
    in a traced run, enable the UI whose REST API reports stage
    shuffle and spill."""
    from old_original_java_little_horse_spark.session import get_spark

    extra = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then wait for the JVM (and with it every
    Python worker it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        try:
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # noqa: BLE001 — best effort, proc wait follows
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


# -- host stamp ----------------------------------------------------------


def _cpu_times() -> tuple[int, int, int]:
    """(total, steal, idle + iowait) jiffies of the machine, from /proc/stat."""
    try:
        fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]
        vals = [int(x) for x in fields]
        return sum(vals), (vals[7] if len(vals) > 7 else 0), vals[3] + vals[4]
    except (OSError, ValueError, IndexError):
        return 0, 0, 0


def host_stamp() -> dict:
    try:
        load = list(os.getloadavg())
    except OSError:
        load = []
    total, steal, idle = _cpu_times()
    return {"loadavg": load, "cpu_jiffies": total, "steal_jiffies": steal,
            "idle_jiffies": idle, "time": time.time()}


def steal_share(before: dict, after: dict) -> float:
    dt = after["cpu_jiffies"] - before["cpu_jiffies"]
    return (after["steal_jiffies"] - before["steal_jiffies"]) / dt if dt else 0.0


def foreign_cpu_share(before: dict, after: dict, ours_s: float) -> float:
    """Share of the machine's CPU time between the two stamps that was
    busy but not spent by this process tree (`ours_s` CPU seconds):
    other tenants' load, which steal alone does not show when they run
    on the same virtual CPUs."""
    dt = after["cpu_jiffies"] - before["cpu_jiffies"]
    if not dt:
        return 0.0
    idle = after["idle_jiffies"] - before["idle_jiffies"]
    steal = after["steal_jiffies"] - before["steal_jiffies"]
    ours = ours_s * os.sysconf("SC_CLK_TCK")
    return max(0.0, (dt - idle - steal - ours) / dt)


def engine_defaults() -> dict:
    """The shipped engine kind, trigger and state partitions, read from
    `SparkEngineManager`'s own signature, so a changed default shows in
    the artifact."""
    import inspect

    from old_original_java_little_horse_spark.api.engines import SparkEngineManager

    params = inspect.signature(SparkEngineManager.__init__).parameters
    return {k: params[k].default for k in
            ("use_tws", "trigger_seconds", "state_partitions", "shared")
            if k in params}


# -- statistics ----------------------------------------------------------


def pct(values, q: float) -> float | None:
    """Linear-interpolated percentile, q in [0, 100]; None without
    samples."""
    if not values:
        return None
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def tail_pct(values, q: float, beyond: int = 10) -> tuple[float | None, float]:
    """`pct(values, q)`, lowered to the highest percentile that still
    has `beyond` samples above it when the sample is too small.
    Returns (value, percentile actually used)."""
    n = len(values)
    if n and n * (100 - q) / 100.0 < beyond:
        q = max(50.0, 100.0 * (n - beyond) / n)
    return pct(values, q), q


def median(values) -> float | None:
    """None without samples, so an empty set cannot pass as a 0."""
    return float(statistics.median(values)) if values else None


# -- peak RSS and CPU of the process tree --------------------------------


def _tree_values(root_pid: int, value) -> dict:
    """`value(pid, stat fields after the command name)` for `root_pid`
    and each of its descendants, by pid."""
    children: dict[int, list[int]] = {}
    vals: dict[int, object] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = Path(f"/proc/{d}/stat").read_text().rsplit(")", 1)[1].split()
            children.setdefault(int(fields[1]), []).append(int(d))
            vals[int(d)] = value(d, fields)
        except (OSError, ValueError, IndexError):
            continue
    out, stack = {}, [root_pid]
    while stack:
        pid = stack.pop()
        if pid in vals:
            out[pid] = vals[pid]
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    """User + system CPU seconds of this process tree so far: every live
    process's own time plus the time of the descendants it has reaped,
    so exited Python workers still count."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(_tree_values(
        os.getpid(), lambda _d, f: sum(int(x) for x in f[11:15]) / tick).values())


class TreeSampler:
    """Samples this process and all its descendants (the JVM and its
    Python workers) every `period` seconds: the peak of their summed
    RSS, and each process's own CPU time as last seen, so a process
    that exits unreaped (a worker orphaned at shutdown) still counts
    towards `cpu_seconds`."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        self.cpu: dict[int, float] = {}
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-sampler")

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def _value(self, d: str, f: list[str]) -> tuple[int, float]:
        rss = int(Path(f"/proc/{d}/statm").read_text().split()[1]) * self._page
        return rss, (int(f[11]) + int(f[12])) / self._tick

    def sample(self) -> None:
        vals = _tree_values(os.getpid(), self._value)
        self.peak = max(self.peak, sum(rss for rss, _ in vals.values()))
        for pid, (_, cpu) in vals.items():
            self.cpu[pid] = max(self.cpu.get(pid, 0.0), cpu)

    def cpu_seconds(self) -> float:
        return sum(self.cpu.values())

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak RSS in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak / 2**20


# -- checks --------------------------------------------------------------


class CheckFailed(Exception):
    """An output or protocol check of the benchmark failed."""


def expect(cond, detail="") -> None:
    """A check that, unlike `assert`, still runs under ``python -O``."""
    if not cond:
        raise CheckFailed(detail)


# -- output --------------------------------------------------------------


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def write_artifact(name: str, obj: dict) -> Path:
    out = WORK_ROOT / "results"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{name}.json"
    path.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
    return path
