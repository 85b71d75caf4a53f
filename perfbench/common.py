"""Shared pieces of the benchmark: hermetic environment, the work
directory, host drift probes, process-tree memory and small statistics.

Importing this module changes nothing; ``pin_environment`` does, and
``run.py`` calls it before numpy or pyspark is imported.
"""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent  # the checkout being measured
WORK = ROOT / ".perfbench_work"  # every file the benchmark writes lives here

# caller settings the program reads that would change what is measured
IGNORED_ENV = ("SPARK_GRAFT_PARTITIONS", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR")
THREAD_ENV = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """One BLAS/OMP thread per process, no caller overrides, every
    temporary file inside the work directory, and the checkout on the
    import path of this process and of every Python worker Spark forks."""
    for k in IGNORED_ENV:
        os.environ.pop(k, None)
    for k in THREAD_ENV:
        os.environ[k] = "1"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYTHONHASHSEED"] = "0"
    # the JVM that spark-submit runs to build its command line would
    # otherwise write a perf-data file to the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def _cmd_first_line(cmd: list[str]) -> str:
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=30, cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout or out.stderr).strip()
    return text.splitlines()[0] if text else "unknown"


def source_tree_digest() -> str:
    """sha256 over the engine's source files: identifies the measured
    code when the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "tesseract_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def environment_record() -> dict:
    cpu = "unknown"
    try:
        for line in Path("/proc/cpuinfo").read_text().splitlines():
            if line.startswith("model name"):
                cpu = line.split(":", 1)[1].strip()
                break
    except OSError:
        pass
    try:
        import pyspark

        pyspark_version = pyspark.__version__
    except ImportError:
        pyspark_version = "missing"
    commit = _cmd_first_line(["git", "rev-parse", "HEAD"])
    return {
        "nproc": nproc(),
        "cpu_model": cpu,
        "python": platform.python_version(),
        "pyspark": pyspark_version,
        "java": _cmd_first_line(["java", "-XX:-UsePerfData", "-version"]),
        "git_commit": commit if len(commit) == 40 else "not a git checkout",
        "source_sha256": source_tree_digest(),
    }


# ---- host drift probes (box.*) -------------------------------------------

def calib_ms() -> float:
    """A fixed numpy + interpreter loop; its time moves only with the
    host (steal, frequency, neighbours), never with the program."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.integers(0, 255, size=(600, 800), dtype=np.uint8)
    t0 = time.perf_counter()
    for _ in range(20):
        b = (a > 127).astype(np.uint8)
        np.cumsum(b, axis=1)
        sum(range(20000))
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        fields = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    except OSError:
        return 0, 0
    vals = [int(x) for x in fields]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def load1() -> float:
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return 0.0


class BoxProbe:
    """box.calib_ms before and after the timed region, steal share and
    load over it."""

    def __init__(self) -> None:
        self.calib = [calib_ms()]
        self.ticks0 = cpu_ticks()

    def finish(self) -> dict:
        self.calib.append(calib_ms())
        s1, t1 = cpu_ticks()
        ds, dt = s1 - self.ticks0[0], t1 - self.ticks0[1]
        return {
            "box.calib_ms": statistics.mean(self.calib),
            "box.steal_pct": 100.0 * ds / dt if dt > 0 else 0.0,
            "box.load1": load1(),
        }


# ---- process-tree memory --------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root_pid: int) -> int:
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def reap_children(timeout: float = 60.0) -> None:
    """Wait until every process this one started has ended; terminate,
    then kill, whatever outlives the timeout."""
    import signal

    def all_gone(seconds: float) -> bool:
        deadline = time.monotonic() + seconds
        while True:
            try:
                os.waitpid(-1, os.WNOHANG)  # collect exited children
            except ChildProcessError:
                pass
            if not descendants(os.getpid()):
                return True
            if time.monotonic() >= deadline:
                return False
            time.sleep(0.1)

    if all_gone(timeout):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if all_gone(10.0):
            return


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python workers) every ``period`` seconds."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    @property
    def mb(self) -> float:
        return self.peak / 1e6


# ---- statistics -----------------------------------------------------------

def percentile(sorted_vals: list[float], p: float) -> float:
    """Linear-interpolated percentile of an ascending list."""
    if not sorted_vals:
        return 0.0
    k = (len(sorted_vals) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (k - lo)


TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(n: int) -> float:
    """The highest percentile of the grid with at least ten samples
    beyond it."""
    for p in TAIL_GRID:
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return 50.0


def sha256_of(chunks) -> str:
    h = hashlib.sha256()
    for c in chunks:
        h.update(c if isinstance(c, bytes) else str(c).encode())
    return h.hexdigest()


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)
