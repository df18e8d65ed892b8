"""Memory from /proc (no psutil) and the box context of a run."""

from __future__ import annotations

import hashlib
import os
import subprocess
import threading


def _status(pid: int, field: str) -> int:
    """A kB field of /proc/<pid>/status, 0 when the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def peak_rss_mb(pid: int) -> float:
    return _status(pid, "VmHWM") / 1024


def python_descendants(root: int) -> list[int]:
    """Python processes below ``root`` (the workers under the JVM)."""
    children: dict[int, list[int]] = {}
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # comm is parenthesised and may hold spaces: split after the last ')'
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        comm[int(d)] = name
    out, todo = [], list(children.get(root, []))
    while todo:
        p = todo.pop()
        if comm.get(p, "").startswith("python"):
            out.append(p)
        todo.extend(children.get(p, []))
    return out


class WorkerPeakRss:
    """Largest VmHWM of any Python worker of the JVM, polled in a thread
    (a worker's high-water mark is lost when it exits)."""

    def __init__(self, jvm_pid: int, every_s: float = 0.25):
        self.jvm_pid = jvm_pid
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        for p in python_descendants(self.jvm_pid):
            self.peak_mb = max(self.peak_mb, peak_rss_mb(p))

    def _loop(self) -> None:
        while not self._stop.wait(self.every_s):
            self._poll()

    def __enter__(self) -> "WorkerPeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_probe_s() -> float:
    """Seconds of a fixed single-threaded numpy and Python workload; it
    grows when other guests slow the box down."""
    import time

    import numpy as np

    rng = np.random.default_rng(0)
    t0 = time.perf_counter()
    for _ in range(20):
        np.sort(rng.random(200_000))
    sum(i * i for i in range(1_000_000))
    return time.perf_counter() - t0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def _engine_sha(root: str) -> str:
    """Hash of the engine sources, which identifies the tree where no git
    metadata is present."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "chronon_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def context(root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(_mem_total_mb()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": _commit(root),
        "engine_sha": _engine_sha(root),
    }
