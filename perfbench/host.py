"""Host-side measurements read from ``/proc``: the environment a run
saw, and the resident memory and CPU time of the benchmark's process
tree (this interpreter, the Spark driver JVM it launched and the
Python workers the JVM forks)."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def environment() -> dict:
    """Versions and settings that decide what a run can be compared with."""
    import pyspark

    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
        java = next((line for line in out.stderr.splitlines() if " version " in line), None)
    except (OSError, subprocess.SubprocessError):
        java = None
    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg_start": loadavg(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _stat(pid: int) -> tuple[int, int] | None:
    """(parent pid, cumulative CPU ticks incl. reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after its ')'
    fields = data[data.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def process_tree(root: int) -> dict[int, int]:
    """pid -> CPU ticks for ``root`` and every descendant."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid][1]
            todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root: int) -> float:
    return sum(process_tree(root).values()) / _TICK


class RssSampler:
    """Samples the process tree's summed RSS on a background thread and
    keeps the peak; ``stop`` joins the thread.  ``cpu_s`` is the CPU the
    thread itself has used, which callers take out of the tree's."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = sum(_rss(pid) for pid in process_tree(self.root))
            self.peak_bytes = max(self.peak_bytes, rss)
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
