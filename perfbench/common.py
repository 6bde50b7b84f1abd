"""Session, paths and result plumbing shared by the workloads."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import resource
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
CACHE = os.path.join(ROOT, ".bench_cache", "perfbench")
CORES = 4  # local[4]: the 4-core box the baseline was measured on
DRIVER_MEM = "4g"


def prepare_env() -> None:
    """Point the program and Spark at the checkout before the JVM starts:
    workers import maga_spark from it, and scratch space stays inside it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["MAGA_SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, the spark-submit launcher included: temp files in the
    # checkout and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {DRIVER_MEM} pyspark-shell"


def start_spark(app: str, extra_conf: dict[str, str] | None = None):
    from maga_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    conf.update(extra_conf or {})
    return get_spark(app_name=app, master=f"local[{CORES}]", extra_conf=conf)


def _proc_stat(pid: int) -> tuple[int, str, str] | None:
    """(parent pid, state, start time) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(rest[1]), rest[0], rest[19]


def _descendants(root: int) -> dict[int, str]:
    """Every live process under ``root``, as pid -> start time."""
    children: dict[int, list[int]] = {}
    starts = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
                starts[int(name)] = st[2]
    out, todo = {}, [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            out[pid] = starts[pid]
            todo.append(pid)
    return out


def _alive(pid: int, start: str) -> bool:
    st = _proc_stat(pid)
    return st is not None and st[2] == start and st[1] not in ("Z", "X")


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop the Spark session, the driver JVM this process launched and every
    process under it (Python workers included), and wait until each has
    ended: the JVM otherwise exits on its own only after this process has."""
    import signal

    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:
            pass
    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            try:
                jvm.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                jvm.wait(timeout_s)
            except Exception:
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # workers the JVM forked outlive it briefly (and are no longer our
    # children, so they are polled rather than waited on)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = {p: s for p, s in procs.items() if _alive(p, s)}
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + timeout_s
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            left = {p: s for p, s in left.items() if _alive(p, s)}
        if not left:
            return
    raise RuntimeError(f"processes still running after SIGKILL: {sorted(left)}")


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this process."""
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def source_digest() -> str:
    """Digest of the program and benchmark sources in the checkout."""
    files = sorted(glob.glob(os.path.join(ROOT, "maga_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(ROOT, f) for f in ("__spark_entry__.py", "bench.py")]
    files += sorted(glob.glob(os.path.join(HERE, "*.py")))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def cached_json(path: str, build):
    """Load ``path`` or build, store and return it."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = build()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(value, fh)
    os.replace(tmp, path)
    return value


class Clock:
    """Wall-clock and epoch-time stamps of one call."""

    def __init__(self):
        self.t0, self.w0 = time.perf_counter(), time.time()

    def stop(self) -> tuple[float, float, float]:
        """Returns (seconds, epoch start, epoch end)."""
        dt = time.perf_counter() - self.t0
        return dt, self.w0, self.w0 + dt
