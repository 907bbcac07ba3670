"""Machine facts read from /proc: the environment record, the process tree's
resident memory, other Spark JVMs that would disturb a measurement, and the
reaping of every process a run started."""

from __future__ import annotations

import os
import threading
import time

SPARK_MAIN = "org.apache.spark.deploy.SparkSubmit"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_mem() -> str:
    """A quarter of the machine's memory, at most the session's 24g default."""
    return f"{min(24 * 1024, mem_total_mb() // 4)}m"


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def foreign_spark_jvms() -> list[int]:
    """Spark driver JVMs running on this machine that this process did not
    start."""
    mine = set(descendants())
    return [int(d) for d in os.listdir("/proc")
            if d.isdigit() and int(d) not in mine
            and SPARK_MAIN in _cmdline(int(d))]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb() -> float:
    pids = [os.getpid(), *descendants()]
    return sum(_rss_kb(p) for p in pids) / 1024


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) every ``interval`` seconds while
    running; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _collect_zombies() -> None:
    """Reap this process's children that have already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(timeout: float = 30.0) -> list[int]:
    """Wait for every descendant to end; kill what is left after
    ``timeout`` seconds. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        _collect_zombies()
        if not descendants():
            return []
        time.sleep(0.2)
    killed = descendants()
    for p in killed:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    while time.monotonic() < deadline + 5:
        _collect_zombies()
        if not descendants():
            break
        time.sleep(0.1)
    return killed
