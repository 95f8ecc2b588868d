"""Process-level plumbing: the scratch root, the Spark session, the timed
pass loop and the timed set-up repetitions.

Everything a run writes lives under one scratch root inside the checkout
(``.perfbench/run-*``): Spark's local dirs, the JVM and Python temp dirs,
warehouses, the object store and exports. The root is removed when the run
ends, also after an exception or SIGTERM.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
STATE_DIR = os.path.join(CHECKOUT, ".perfbench")

CORES = 4
DRIVER_MEMORY = "3g"


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class ScratchRoot:
    """A per-run directory removed on exit, on error and on SIGTERM."""

    def __init__(self, tag: str):
        self.path = os.path.join(STATE_DIR, f"run-{tag}-{os.getpid()}")
        self._prev = None

    def __enter__(self) -> "ScratchRoot":
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        self._prev = signal.signal(signal.SIGTERM, _raise_exit)
        return self

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        signal.signal(signal.SIGTERM, self._prev or signal.SIG_DFL)


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


class Session:
    """One local Spark session and the JVM behind it, stopped on exit."""

    def __init__(self, root: ScratchRoot, cores: int, conf: dict[str, str]):
        self.root, self.cores, self.conf = root, cores, conf
        self.spark = None
        self.start_s = 0.0

    def __enter__(self):
        from pyspark.sql import SparkSession
        tmp = self.root.sub("tmp")
        # executor Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        # SPARK_LOCAL_DIRS would override spark.local.dir below
        os.environ.pop("SPARK_LOCAL_DIRS", None)
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
        # says; this covers both the launcher and the driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        t0 = time.perf_counter()
        builder = (SparkSession.builder
                   .master(f"local[{self.cores}]")
                   .appName("perfbench")
                   .config("spark.ui.enabled", "false")
                   .config("spark.ui.showConsoleProgress", "false")
                   .config("spark.driver.memory", DRIVER_MEMORY)
                   .config("spark.driver.extraJavaOptions",
                           f"-Djava.io.tmpdir={tmp}")
                   .config("spark.local.dir", self.root.sub("spark-local"))
                   .config("spark.sql.warehouse.dir",
                           self.root.sub("spark-warehouse"))
                   .config("spark.sql.session.timeZone", "UTC"))
        for k, v in self.conf.items():
            builder = builder.config(k, v)
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        return self

    def jvm_peak_rss_mb(self) -> float:
        """Driver JVM high-water resident set (``VmHWM``) in MB."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def __exit__(self, *exc) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway, proc = sc._gateway, sc._gateway.proc
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            from pyspark import SparkContext
            SparkContext._gateway = None
            SparkContext._jvm = None


@dataclass
class Passes:
    """Timed passes of one run: wall seconds and items each processed."""
    walls: list[float] = field(default_factory=list)
    items: list[int] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0

    def items_per_s(self) -> float:
        return sum(self.items) / sum(self.walls)


def run_timed(run_pass, seconds: float) -> Passes:
    """Run ``run_pass()`` until ``seconds`` of pass time have elapsed.
    ``run_pass`` returns a list of
    (wall seconds, items) samples — one per pass, or one per round for a
    multi-round pass. A pass that raises counts as failed and ends the
    loop."""
    out = Passes()
    spent = 0.0
    while spent < seconds:
        out.attempted += 1
        t0 = time.perf_counter()
        try:
            samples = run_pass()
        except Exception:  # a failed pass is a result, not a crash
            out.failed += 1
            log("pass failed:\n" + traceback.format_exc())
            break
        spent += time.perf_counter() - t0
        for wall, items in samples:
            out.walls.append(wall)
            out.items.append(items)
    return out


def timed_reps(fn, reps: int) -> tuple[list[float], object]:
    """Run ``fn()`` ``reps`` times; each run's wall seconds and the last
    result."""
    walls, last = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        last = fn()
        walls.append(time.perf_counter() - t0)
    return walls, last


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(files, bytes) of the ``suffix`` files under ``path``."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(base, name))
    return files, size
