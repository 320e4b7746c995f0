"""Host facts recorded beside the metrics, and the /proc memory sampler.

``psutil`` is not available, so the process tree and its resident memory
are read from ``/proc`` directly.
"""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import sys
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> list[int]:
    """root and all its descendants, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of each process in the tree."""
    out = {}
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * PAGE
        except OSError:
            pass  # exited between listing and reading
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants (driver Python,
    JVM, Python workers), sampled every `interval` seconds while running."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _run(self):
        me = os.getpid()
        while True:
            by_pid = tree_rss(me)
            if sum(by_pid.values()) > self.peak:
                self.peak, self.peak_by_pid = sum(by_pid.values()), by_pid
            self.samples += 1
            if self._stop.wait(self.interval):
                return


def cpu_times() -> list[float]:
    """Host-wide seconds from the first line of /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        return [int(x) / hz for x in f.readline().split()[1:9]]


def steal_share(before: list[float], after: list[float]) -> float:
    """Share of this VM's runnable CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return d[7] / max(busy + d[7], 1e-9)


def _meminfo_kb(key: str) -> int | None:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return None


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _git_commit(root: str) -> str | None:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return None  # an exported checkout carries no git metadata
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def context(root: str) -> dict:
    import numpy
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "loadavg_before": loadavg(),
        "git_commit": _git_commit(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "platform": platform.platform(),
    }


def _kernel(n: int) -> float:
    """Fixed CPU work: a pure-Python loop (interpreter speed)."""
    acc = 0.0
    for i in range(n):
        acc += (i % 7) * 0.5
    return acc


# A calibration worker: reports that it is up, waits for the go line on
# stdin, runs the kernel once and reports that it is done.
_WORKER = """
import sys
sys.path.insert(0, sys.argv[1])
from host import _kernel
print("ready", flush=True)
sys.stdin.readline()
_kernel(int(sys.argv[2]))
print("done", flush=True)
"""


def calibrate(workers: int, n: int = 1_000_000) -> dict:
    """Serial and parallel time of the same kernel. Every worker process is
    started and has answered before the parallel span starts, so process
    start-up is outside the timed span. The workers are plain child
    processes that this function waits for, so none outlives it."""
    t0 = time.perf_counter()
    _kernel(n)
    serial = time.perf_counter() - t0
    here = os.path.dirname(os.path.abspath(__file__))
    procs = [subprocess.Popen([sys.executable, "-c", _WORKER, here, str(n)], stdin=subprocess.PIPE,
                              stdout=subprocess.PIPE, text=True) for _ in range(workers)]
    try:
        for p in procs:
            if p.stdout.readline().strip() != "ready":
                raise RuntimeError("calibration worker did not start")
        t0 = time.perf_counter()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        for p in procs:
            p.stdout.readline()
        parallel = time.perf_counter() - t0
    finally:
        for p in procs:
            p.kill()
            p.wait()
            p.stdin.close()
            p.stdout.close()
    return {
        "serial_s": serial,
        "parallel_s": parallel,
        "workers": workers,
        "parallel_speedup": workers * serial / parallel,
    }


def marked(key: str, value: str) -> list[int]:
    """Other processes whose environment carries key=value. A variable set
    before the run starts anything is inherited by every process the run
    starts (the JVM, its Python workers, their children), also by those
    that were reparented when their parent ended."""
    needle = f"{key}={value}".encode()
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
        except OSError:
            continue
        if needle in env:
            out.append(int(name))
    return out


def stop_marked(key: str, value: str, timeout: float = 20.0) -> list[int]:
    """SIGKILL every process `marked` finds and wait until all are gone.
    Returns the pids that were still there."""
    found = marked(key, value)
    for pid in found:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass  # reap this process's own children
        except ChildProcessError:
            pass
        if not any(os.path.exists(f"/proc/{pid}") for pid in found) or time.monotonic() > deadline:
            return found
        time.sleep(0.05)
