"""Facts about the host and this process tree, read from ``/proc``."""

from __future__ import annotations

import os
import signal
import sys
import threading
import time


def cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is inside user
    return 100.0 * delta[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int | None = None, kids: dict[int, list[int]] | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this process)."""
    kids = _children() if kids is None else kids
    out, todo = [], [pid or os.getpid()]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssPeak:
    """Largest summed peak resident size (VmHWM), sampled by a
    background thread: ``mb`` over this process and its direct children
    (the JVM), which live for the whole run; ``tree_mb`` over every
    descendant too, including Python workers, whose number alive at a
    sample varies from run to run."""

    def __init__(self, interval: float = 0.2):
        self.mb = 0.0
        self.tree_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = _children()
        main = [me, *kids.get(me, ())]
        tree = main + [p for k in kids.get(me, ()) for p in descendants(k, kids)]
        self.mb = max(self.mb, sum(map(_hwm_kb, main)) / 1024)
        self.tree_mb = max(self.tree_mb, sum(map(_hwm_kb, tree)) / 1024)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling (idempotent) after one last sample."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self.sample()


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Terminate any of ``pids`` still alive and wait until they exit."""
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while alive and time.monotonic() < deadline:
        for p in alive:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        alive = [p for p in alive if _running(p)]
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def du(path: str) -> int:
    """Bytes in the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def versions() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
    }
