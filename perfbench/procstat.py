"""Readings from /proc shared by every measurement: the CPU mix of the host
and of one process tree, resident memory of that tree, and tree teardown.

The process tree of a benchmark child is the Python driver, the JVM it
launches and the JVM's Python worker daemon with its workers. The daemon
moves itself into its own process group, so the tree is found by parent
links, not by process group.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def _tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by the live tree, including
    children it has already reaped."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _host_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class CpuMix:
    """CPU mix over an interval: ``CpuMix(root)`` snapshots, ``.read()``
    returns the shares since then.

    - ``cpu_util``: CPU time of the tree under ``root`` as a percentage of
      all cores over the interval's wall time;
    - ``user_pct`` / ``steal_pct``: the host's user and steal time as a
      percentage of all host CPU time, so degraded host windows show.
    """

    def __init__(self, root: int):
        self.root = root
        self.t0 = time.perf_counter()
        self.cpu0 = _tree_cpu_s(root)
        self.host0 = _host_ticks()

    def read(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        cpu = _tree_cpu_s(self.root) - self.cpu0
        d = [b - a for a, b in zip(self.host0, _host_ticks())]
        total = max(1, sum(d))
        # /proc/stat: user nice system idle iowait irq softirq steal ...
        return {
            "cpu_util": 100.0 * cpu / max(1e-9, wall * (os.cpu_count() or 1)),
            "user_pct": 100.0 * (d[0] + d[1]) / total,
            "steal_pct": 100.0 * (d[7] if len(d) > 7 else 0) / total,
        }


class PeakRss:
    """Samples the resident memory of the tree under ``root`` on a
    background thread until ``stop()``, which returns the peak in bytes.
    Sampling also ends once the file ``until_path`` exists, so a process
    can mark the end of its measured phase."""

    def __init__(self, root: int, until_path: str, interval_s: float = 0.1):
        self.root, self.until_path, self.interval_s = root, until_path, interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set() and not os.path.exists(self.until_path):
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        return self.peak


def kill_tree(root: int, timeout_s: float = 20.0) -> None:
    """SIGKILL ``root``'s tree (descendants first seen while ``root`` still
    lives) and wait until every one of those processes has gone."""
    pids = tree_pids(root)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait_gone(pids, timeout_s)


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` is running (exited or a zombie)."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if all((_stat_fields(p) or ["Z"])[0] == "Z" for p in pids):
            return True
        time.sleep(0.05)
    return False
