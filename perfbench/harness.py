"""Shared pieces of the benchmark: paths, the Spark session, the run
configuration stamp, resource sampling and summary statistics."""

from __future__ import annotations

import glob
import hashlib
import os
import platform
import socket
import statistics
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "bigdata_weather_system_spark"
#: Everything a run writes (generated tables, oracle cache, Spark scratch,
#: event logs, traces) stays under this directory (ignored by git).
BUILD_DIR = os.path.join(BENCH_DIR, ".build")

CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
SHUFFLE_PARTITIONS = CPUS


class BenchError(RuntimeError):
    """A precondition of the benchmark does not hold (missing program,
    unusable environment); the run stops without printing a result."""


def check_program() -> None:
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise BenchError(f"program package {PACKAGE!r} not found under {ROOT}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "parity_check.py")):
        raise BenchError("tools/parity_check.py not found (result normalizer)")


def prepare_environment() -> None:
    """Point every scratch location of Spark and its Python workers inside
    the build directory, and make the package importable by the workers."""
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def start_spark(app_name: str, event_log_dir: str | None = None):
    """The package's session factory with the benchmark's fixed sizing.
    ``event_log_dir`` turns on an uncompressed, non-rolling event log."""
    from bigdata_weather_system_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(BUILD_DIR, "warehouse"),
        "spark.sql.streaming.minBatchesToRetain": "1000",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name=app_name,
        master=f"local[{CPUS}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )


def _source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git_head() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def run_config(spark, workload: str, seed: int, sf: float | None) -> dict:
    """Everything a result depends on besides the code under test."""
    jvm = spark.sparkContext._jvm
    conf = spark.conf
    return {
        "workload": workload,
        "seed": seed,
        "sf": sf,
        "cpus": CPUS,
        "host": socket.gethostname(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_head": _git_head(),
        "source_sha": _source_digest(),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe": conf.get("spark.sql.adaptive.enabled"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }


#: Keys that must agree before two results may be compared.
COMPARABLE_KEYS = (
    "workload", "sf", "cpus", "host", "spark", "java", "python",
    "shuffle_partitions", "aqe", "driver_memory", "seconds", "trace", "smoke",
)


def steal_seconds() -> float:
    """Cumulative CPU time stolen from this host by the hypervisor (a stamp
    of how noisy the host was during a run; no sample is dropped on it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    # user nice system idle iowait irq softirq steal ...
    steal = int(fields[7]) if len(fields) > 7 else 0
    return steal / os.sysconf("SC_CLK_TCK")


def steal_share(steal_s: float, window_s: float) -> float:
    """Stolen share of the host's CPU time over a window of ``window_s``."""
    return steal_s / (window_s * (os.cpu_count() or 1)) if window_s > 0 else 0.0


def descendants(root_pid: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(raw.split(" ", 1)[0])
        ppid = int(raw.rsplit(")", 1)[1].split()[1])
        parent.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with shared pages split among
    the processes sharing them, so a sum over processes counts each page
    once (a vfork'ed helper would otherwise double the JVM's RSS)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory (summed PSS) of this process and all its
    descendants (the driver JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Clock:
    """Wall-clock deadline for the measured window."""

    def __init__(self, seconds: float):
        self.start = time.perf_counter()
        self.seconds = seconds

    def elapsed(self) -> float:
        return time.perf_counter() - self.start

    def expired(self) -> bool:
        return self.elapsed() >= self.seconds
