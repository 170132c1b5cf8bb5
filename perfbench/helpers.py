"""Helpers shared by the workloads: percentiles, result fingerprints,
process age, driver memory sampling, the lifetime of the processes a
run starts, and the run-environment record.

Only the standard library is imported here at module level: the CLI
launcher imports this module before it times the CLI's own imports."""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import signal
import threading
import time


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0-100) of ``values`` with linear
    interpolation between closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def fingerprint(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result frame.

    The frame is first put in the canonical form the oracle gate
    compares (``tests.oracle_check._canon``: columns by name, values
    normalised, rows sorted), so two frames get the same digest exactly
    when that gate would find them equal: same columns, dtypes and
    values, in any row order.
    """
    import pandas as pd

    from tests.oracle_check import _canon

    canon = _canon(df)
    for c in canon.columns:
        if pd.api.types.is_float_dtype(canon[c]):
            canon[c] = canon[c] + 0.0  # the gate finds -0.0 == 0.0; hash them alike
    h = hashlib.sha256()
    h.update(json.dumps([[c, str(canon[c].dtype)] for c in canon.columns]).encode())
    h.update(str(len(canon)).encode())
    if len(canon.columns):
        h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()


def process_age() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        # comm (field 2) may hold spaces; fields after it are fixed.
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:  # removed while we walked
                continue
    return total


def checkpoint_bytes() -> int:
    """Bytes under this process's default checkpoint directory (the
    engine scopes it per process under the temp dir)."""
    import tempfile

    return dir_bytes(
        os.path.join(tempfile.gettempdir(), "pypers_spark_checkpoints", f"proc-{os.getpid()}")
    )


def children(pid: int) -> list[int]:
    """Direct children of ``pid``, from each of its threads'
    ``/proc/<pid>/task/<tid>/children`` list."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # the process has exited
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def driver_rss_bytes(root: int) -> int:
    """Resident memory of a Spark driver: the Python process ``root``
    plus its direct children (the JVM it launched), summed. Python
    workers, which the JVM forks, are left out."""
    total = 0
    for pid in [root, *children(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except (OSError, IndexError, ValueError):
            continue  # the process has exited
    return total


class RssSampler:
    """Samples a driver's RSS (``driver_rss_bytes``) on a background
    thread and keeps the peak. ``with RssSampler(pid) as s: ...; s.peak_mb``."""

    def __init__(self, root: int, interval: float = 0.5):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, driver_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, driver_rss_bytes(self.root))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so a JVM that outlives the Python process
    which launched it can still be waited for here."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def wait_children(keep=(), timeout: float = 60.0) -> None:
    """Wait until every child of this process except ``keep`` has
    ended, reaping each; kill what is still running after ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        kids = [p for p in children(os.getpid()) if p not in keep]
        if not kids:
            return
        for pid in kids:
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # not ours to reap, or already reaped
                pass
        time.sleep(0.05)


def start_session(app: str):
    """Create the engine's SparkSession and run a first job; returns it
    with this process's age at that moment, one sample of ``setup_s``.
    Every set-up sample is taken by this function, in a fresh process."""
    from pypers_spark.session import get_session

    spark = get_session(app, master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]")
    spark.range(1).count()
    return spark, process_age()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot
    (``/proc/stat`` steal), summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_state() -> dict:
    """Load average and hypervisor steal now: read at a run's start and
    end, so a result shows what else the machine was doing."""
    return {"load_avg": os.getloadavg(), "cpu_steal_s": cpu_steal_s()}


def versions() -> dict:
    """Software versions a result needs beside it to be compared with
    another. Starts a JVM for ``java -version``, so a run reads them
    after its measurement."""
    import subprocess

    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "jvm": next((ln for ln in java.stderr.splitlines() if "version" in ln), ""),
    }
