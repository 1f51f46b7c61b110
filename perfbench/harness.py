"""Run-level plumbing shared by the workloads: working directory, Spark
session, host stamp, per-process peak RSS, statistics and the result line."""

from __future__ import annotations

import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class InvalidRun(RuntimeError):
    """The run broke one of its own validity guards (generator lateness,
    backlog); its numbers would not describe the workload."""


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    trace: bool
    units: dict = field(default_factory=dict)  # metric name -> unit, from BENCHMARK.json
    work: str = ""
    spark: object = None
    metrics: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)
    session_start_s: float = 0.0
    # setup_s components: session start, input generation, warm-up
    setup_parts: dict = field(default_factory=dict)
    _stat0: tuple | None = None

    # -- environment ---------------------------------------------------------

    def prepare(self) -> None:
        """Keep every file the run writes inside the checkout, and make the
        package importable to Python workers (``mapInArrow`` runs there)."""
        self.work = os.path.join(ROOT, ".bench_work", f"{self.workload}-{os.getpid()}")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.chdir(self.work)  # spark-warehouse and friends land here
        self._stat0 = _cpu_jiffies()

    def start_spark(self):
        from cdc_agents_data_stream_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()  # the session is usable only after a job ran
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for it and for the Python workers
        it forked, then drop the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            workers = self.processes()["py_workers"]
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            try:
                self.spark.stop()
            finally:
                if gw is not None:
                    gw.shutdown()
                if proc is not None:
                    if proc.stdin:
                        proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:  # never leave a JVM behind
                        proc.kill()
                        proc.wait()
                # workers are the JVM's children: they exit when it does
                deadline = time.monotonic() + 30
                while any(_alive(pid) for pid in workers):
                    if time.monotonic() > deadline:
                        for pid in workers:
                            try:
                                os.kill(pid, signal.SIGKILL)
                            except ProcessLookupError:
                                pass
                        break
                    time.sleep(0.05)
        os.chdir(ROOT)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    # -- processes -----------------------------------------------------------

    def processes(self) -> dict[str, list[int]]:
        """The driver Python, the JVM and the Python workers it forked,
        found by walking /proc from this process."""
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out = {"driver_py": [os.getpid()], "jvm": [], "py_workers": []}
        stack = list(children.get(os.getpid(), []))
        while stack:
            pid = stack.pop()
            stack.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    cmd = fh.read().replace(b"\0", b" ")
            except OSError:
                continue
            if b"java" in cmd.split(b" ", 1)[0]:
                out["jvm"].append(pid)
            elif b"python" in cmd:
                out["py_workers"].append(pid)
        return out

    def reset_peak_rss(self) -> None:
        """Reset the kernel's per-process RSS high-water marks (VmHWM)."""
        for pids in self.processes().values():
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/clear_refs", "w") as fh:
                        fh.write("5")
                except OSError:
                    pass

    def peak_rss_mb(self) -> dict[str, float]:
        out = {}
        for kind, pids in self.processes().items():
            total = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/status") as fh:
                        for line in fh:
                            if line.startswith("VmHWM:"):
                                total += int(line.split()[1])
                except OSError:
                    continue
            out[kind] = total / 1024.0
        self.notes["peak_rss_mb"] = {k: round(v, 1) for k, v in out.items()}
        return out

    # -- reporting -----------------------------------------------------------

    def host_stamp(self) -> dict:
        import pyspark

        return {
            "nproc": nproc(),
            "loadavg_1m": os.getloadavg()[0],
            "steal_pct": _steal_pct(self._stat0),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
        }

    def emit(self, correct: bool) -> None:
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.trace),
            "host": self.host_stamp(),
            "notes": self.notes,
        }
        print(json.dumps(report, sort_keys=True, default=str))
        line = {
            "correct": bool(correct),
            "attempted": int(max(self.attempted, 1)),
            "failed": int(self.failed),
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in self.metrics.items()},
        }
        sys.stdout.flush()
        print(json.dumps(line))
        sys.stdout.flush()

    def put(self, name: str, value: float) -> None:
        """Record a declared metric (its unit comes from BENCHMARK.json)."""
        self.metrics[name] = (float(value), self.units[name])


# -- statistics ------------------------------------------------------------------


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample. Returns (value, percentile). With 20 samples or
    fewer that percentile is not above the median, so there is no tail:
    the p50 stands in for it and the percentile returned is 50."""
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return p50(s), 50.0
    return s[n - 11], 100.0 * (n - 10) / n


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def store_bytes(store, log) -> int:
    """Bytes of the state store's current version (the bucket dirs its
    manifest points at) plus the diff log's live data dir."""
    total = 0
    v = store.current_version()
    if v:
        for rel in store._manifest(v).values():
            if rel:
                total += dir_bytes(os.path.join(store.path, rel))
    return total + dir_bytes(log._data_dir())


# -- host ------------------------------------------------------------------------


def _cpu_jiffies() -> tuple[float, float] | None:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    vals = [float(x) for x in parts[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0.0)


def _steal_pct(start: tuple[float, float] | None) -> float:
    end = _cpu_jiffies()
    if start is None or end is None or end[0] <= start[0]:
        return 0.0
    return 100.0 * (end[1] - start[1]) / (end[0] - start[0])


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended, whoever reaps it)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))
