"""Run environment: versions, CPU steal, filesystem type, peak memory, and
the lifetime of the processes a Spark session starts."""

from __future__ import annotations

import os
import platform
import threading
import time


def cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list, after: list) -> float:
    """Share of all CPU ticks between two samples that the hypervisor stole."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (e.g. tmpfs, ext4)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


def versions(spark) -> dict:
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out += kids.get(pid, [])
        todo += kids.get(pid, [])
    return out


def wait_gone(pids: list, timeout_s: float) -> list:
    """Wait until none of ``pids`` exists; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for every process the session
    started (the JVM and its Python workers) to end."""
    procs = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    left = wait_gone(procs, 60)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants: the
    benchmark's Python process, the JVM it launched and the JVM's Python
    workers. PSS splits pages shared after a fork among the sharers, so a
    forked worker or a JVM child between fork and exec is not counted
    twice."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class MemSampler:
    """Background thread sampling the process tree's memory (PSS)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(me))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(os.getpid()))
