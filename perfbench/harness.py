"""Environment pinning, Spark session start and the two outside meters
(container CPU and process-tree resident memory) the benchmark reads.

Everything a run writes goes under ``perfbench/.work/<pid>`` inside the
checkout (Spark's local dirs, the JVM's temp dir, the warehouse and the
generated inputs) and is removed when the run ends.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from bench import _container_cpu_sec  # noqa: E402


def container_cpu_s() -> float:
    """Cumulative CPU seconds of the container, read as ``bench.py`` reads
    them (cgroup v1 cpuacct or v2 cpu.stat)."""
    value = _container_cpu_sec()
    if value is None:
        raise RuntimeError("no cgroup CPU accounting (cpuacct.usage or cpu.stat) to read")
    return value


def _processes() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, resident bytes) of every live process."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/status") as f:
                kv = dict(
                    line.rstrip("\n").split(":\t", 1) for line in f if ":\t" in line
                )
        except OSError:
            continue
        procs[int(entry)] = (int(kv.get("PPid", "0")), int(kv.get("VmRSS", "0 kB").split()[0]) * 1024)
    return procs


def _tree(root_pid: int, procs: dict[int, tuple[int, int]]) -> list[int]:
    """``root_pid`` and all its descendants among ``procs``."""
    found = []
    for pid in procs:
        p = pid
        while p and p != root_pid:
            p = procs.get(p, (0, 0))[0]
        if p == root_pid:
            found.append(pid)
    return found


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants (the driver
    Python, the JVM it launched and the Python workers the JVM forks)."""
    procs = _processes()
    return sum(procs[pid][1] for pid in _tree(root_pid, procs))


class RssSampler:
    """Background sampler of the process tree's resident memory; ``peak_mb``
    is the largest sum seen since ``start``."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def pin_environment() -> dict:
    """Fix what a run depends on and return it for the report: cores from
    the affinity mask (what ``nproc`` prints), driver memory a quarter of
    physical RAM (capped at 8g; the library default of 16g exceeds small
    hosts), the checkout on the workers' PYTHONPATH, and every scratch
    directory inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    driver_gb = max(1, min(8, mem_kb // (4 * 2**20)))
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    for sub in ("spark-local", "tmp", "warehouse", "data"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    container_cpu_s()  # fail before any work when CPU cannot be metered
    return {
        "work": work,
        "cores": cores,
        "driver_memory": f"{driver_gb}g",
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "python": sys.version.split()[0],
    }


def start_spark(env: dict):
    """SparkSession on ``local[cores]`` through the library's own factory."""
    from datasketches_cpp_spark.session import get_spark

    tmp = os.path.join(env["work"], "tmp")
    spark = get_spark(
        master=f"local[{env['cores']}]",
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(env["work"], "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(env["work"], "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    import pyspark

    env["spark"] = pyspark.__version__
    return spark


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a Python worker whose JVM parent exits is
    re-parented here rather than to init, so ``reap_descendants`` can wait
    for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def stop_spark(spark=None) -> None:
    """Stop the session (if one was made), then end the JVM it runs in and
    wait for it.

    ``spark.stop()`` leaves the gateway JVM alive; it only exits once it
    reads EOF on its stdin, which would otherwise happen after this
    process has gone, leaving the JVM running past the end of the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is ended below either way
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 — includes TimeoutExpired
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def reap_descendants(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has exited: give them
    ``grace_s`` to end by themselves, then SIGTERM, then SIGKILL, reaping
    each one (``become_subreaper`` makes orphans children of this
    process)."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sent = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = [pid for pid in _tree(me, _processes()) if pid != me]
        if not left:
            return
        now = time.monotonic()
        if now >= deadline:
            if sent is signal.SIGKILL:
                raise RuntimeError(f"processes {left} did not exit after SIGKILL")
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            for pid in left:
                try:
                    os.kill(pid, sent)
                except OSError:
                    pass
            deadline = now + 10
        time.sleep(0.05)


def clean_up(env: dict) -> None:
    shutil.rmtree(env["work"], ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def wall_cpu(fn):
    """Run ``fn()`` → (result, wall seconds, container CPU seconds)."""
    c0, t0 = container_cpu_s(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, container_cpu_s() - c0
