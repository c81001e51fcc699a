"""CPU time and resident memory of this process and its descendants, read
from ``/proc`` (no psutil).

The tree is the benchmark's own: the Python driver, the JVM it launched,
the pyspark daemon and its Python workers.  Other processes in the
container are never counted.  CPU includes the times of reaped children
(``cutime``/``cstime``), so a Python worker that exits mid-iteration
still counts, through the daemon that waited for it.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2  # PeakRss sampling period
GRACE_S = 20.0  # end_processes: wait before each escalation


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return s[s.rfind(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def tree(root: int | None = None) -> dict[int, list[str]]:
    """``pid -> stat fields`` for ``root`` (default: this process) and every
    descendant alive now."""
    root = root or os.getpid()
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def _cpu(st: list[str]) -> float:
    # utime, stime, cutime, cstime are stat fields 14-17.
    return sum(int(x) for x in st[11:15]) / _TICK


def cpu_seconds() -> float:
    """User+system seconds consumed so far by the whole process tree."""
    return sum(_cpu(st) for st in tree().values())


def python_worker_cpu_seconds() -> float:
    """CPU of the pyspark daemon and the workers it forks (their command
    line is the daemon's; the JVM's names ``pyspark-shell``, so match the
    module names)."""
    return sum(
        _cpu(st)
        for pid, st in tree().items()
        if any(m in _cmdline(pid) for m in ("pyspark.daemon", "pyspark.worker"))
    )


def rss_mb() -> float:
    return sum(int(st[21]) for st in tree().values()) * _PAGE / 2**20


def process_start_epoch() -> float:
    """Wall-clock start of this process: its ``/proc`` start time (clock
    ticks since boot) placed against the current uptime."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    now = time.time()
    return now - (uptime - int(_stat(os.getpid())[19]) / _TICK)


class PeakRss:
    """Samples the tree's summed RSS on a background thread until stopped."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb())
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, rss_mb())


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def end_processes(pids) -> None:
    """Wait for ``pids`` to exit; after each grace period, SIGTERM and then
    SIGKILL whatever is still running."""
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.time() + GRACE_S
        while time.time() < deadline and any(_running(p) for p in pids):
            time.sleep(0.1)
        alive = [p for p in pids if _running(p)]
        if not alive or sig is None:
            return
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
