"""Shared plumbing: checkout layout, the run's scratch directory, the Spark
session, percentiles and sizes."""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "sifter_mrc_search_engine_spark"
SERVE_JOB = ROOT / "jobs" / "serve_http.py"
WORK_ROOT = ROOT / ".perfbench_work"
OUT_ROOT = ROOT / ".perfbench_out"

#: percentiles reported as tails, highest first
_TAILS = (99.9, 99.0, 95.0, 90.0, 75.0)


class MissingProgram(RuntimeError):
    pass


def require_program() -> None:
    """The benchmark builds nothing itself: it drives the package and the
    serving job from the checkout it sits in."""
    for need in (PACKAGE / "__init__.py", SERVE_JOB):
        if not need.is_file():
            raise MissingProgram(f"program file not found: {need.relative_to(ROOT)}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Scratch:
    """Per-run scratch directory inside the checkout. Temporary files of
    Python, the JVM and Spark all go here and are removed at the end."""

    def __init__(self, tag: str):
        self.path = WORK_ROOT / f"{tag}-{os.getpid()}"
        shutil.rmtree(self.path, ignore_errors=True)
        (self.path / "tmp").mkdir(parents=True)
        (self.path / "spark-local").mkdir()
        os.environ["TMPDIR"] = str(self.path / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "spark-local")
        # every JVM of the run, spark-submit's launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.path / 'tmp'} -XX:-UsePerfData"
        )

    def __truediv__(self, name: str) -> str:
        return str(self.path / name)

    def spark_conf(self, memory: str = "2g") -> dict:
        """Extra Spark settings for every JVM of the run: small heap, no
        progress bars, every temp file under the scratch directory."""
        return {
            "spark.driver.memory": memory,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.path / "spark-local"),
            "spark.sql.warehouse.dir": str(self.path / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.path}",
        }

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_ROOT.rmdir()
        except OSError:  # another run's scratch is still there
            pass


def start_spark(scratch: Scratch, app: str):
    from sifter_mrc_search_engine_spark.session import get_spark

    n = nproc()
    spark = get_spark(app, master=f"local[{n}]", extra_conf=scratch.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired: do not leave it running
            proc.kill()
            proc.wait()


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def median(values) -> float:
    return pct(values, 50)


def tail(values) -> tuple[float, float]:
    """(p, value): the highest percentile with at least ten samples
    beyond it; the median when there are too few samples for any."""
    n = len(values)
    for p in _TAILS:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, pct(values, p)
    return 50.0, median(values)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot: the time a shared
    host's hypervisor ran others while this machine had work."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def tree_rss_mb(pid: int) -> float:
    """Resident memory of a process and all its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def write_json(path: Path, obj) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(obj, indent=1, sort_keys=True))


class Run:
    """State of one benchmark run: its inputs, its Spark session, the
    tracer, the metrics it reports and the operations it counted."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 cfg: dict, t_start: float):
        from spans import Tracer

        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.cfg = cfg
        self.t_start = t_start
        self.tracer = Tracer(trace)
        self.metrics: dict[str, dict] = {}
        self.phases: dict[str, float] = {}
        self.layers: dict[str, dict] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.stages = None  # StageMetrics of the session, traced runs only
        self.scratch: Scratch | None = None
        self.corpus = None
        self.corpus_dir = ""

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def since_start(self) -> float:
        return time.perf_counter() - self.t_start

    def phase(self, name: str) -> None:
        """Mark the end of a phase: seconds since the process started."""
        self.phases[name] = self.since_start()

    def metric(self, name: str, value: float, unit: str, **extra) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit, **extra}

    def layer(self, name: str, value: float, unit: str, **extra) -> None:
        self.layers[name] = {"value": float(value), "unit": unit, **extra}

    def count(self, ok: bool, what: str) -> None:
        """One attempted operation; ``ok=False`` counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def group(self, name: str):
        """Job group around a call whose stage metrics a traced run reads;
        untraced runs add nothing around the call."""
        return self.stages.group(name) if self.traced else nullcontext()

    def stage_layer(self, prefix: str, group: str) -> None:
        """Per-layer stage metrics of one job group (traced runs only)."""
        if self.traced:
            m = self.stages.totals(group)
            for key, unit in STAGE_KEYS.items():
                self.layer(f"{prefix}.{key}", m[key], unit)


#: stage-metric keys reported per job group, with units
STAGE_KEYS = {
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes",
    "input_bytes": "bytes",
    "output_bytes": "bytes",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
}
