"""Readers over /proc: process-tree CPU, RSS and disk writes, plus the
host's steal share and load. Linux only; every reader returns 0 for a
process that has gone."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return ""


def _stat_fields(pid: int) -> list[str]:
    s = _read(f"/proc/{pid}/stat")
    # the command name may hold spaces; fields restart after ')'
    return s[s.rfind(")") + 2:].split() if s else []


def children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task") if os.path.isdir(f"/proc/{pid}/task") else []:
        out += [int(c) for c in _read(f"/proc/{pid}/task/{tid}/children").split()]
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children(p)
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of `pid`; with `reaped`, plus its reaped children."""
    f = _stat_fields(pid)
    if not f:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_cpu_s(pid: int) -> float:
    """CPU of every descendant of `pid` (not `pid` itself), reaped
    grandchildren included."""
    return sum(cpu_s(p, reaped=True) for p in descendants(pid))


def rss_mb(pid: int) -> float:
    s = _read(f"/proc/{pid}/statm").split()
    return int(s[1]) * _PAGE / 1e6 if len(s) > 1 else 0.0


def tree_rss_mb(pid: int) -> tuple[float, float]:
    """(RSS of `pid`, summed RSS of its descendants)."""
    return rss_mb(pid), sum(rss_mb(p) for p in descendants(pid))


def write_bytes(pid: int) -> int:
    for line in _read(f"/proc/{pid}/io").splitlines():
        if line.startswith("write_bytes:"):
            return int(line.split()[1])
    return 0


def cpu_times() -> list[int]:
    return [int(x) for x in _read("/proc/stat").splitlines()[0].split()[1:]]


def steal_pct(c0: list[int], c1: list[int]) -> float:
    d = [b - a for a, b in zip(c0, c1)]
    return 100.0 * d[7] / (sum(d) or 1) if len(d) > 7 else 0.0


def load1() -> float:
    return os.getloadavg()[0]


class RssSampler:
    """Samples `tree_rss_mb` of a process every `interval` seconds on a
    background thread until `stop()`."""

    def __init__(self, pid: int, interval: float = 0.25):
        self.pid, self.interval = pid, interval
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb(self.pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> list[tuple[float, float]]:
        self._stop.set()
        self._thread.join()
        return self.samples


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited (or `timeout`); return survivors."""
    deadline = time.time() + timeout
    alive = list(pids)
    while alive and time.time() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _stat_fields(p)[:1] != ["Z"]]
        if alive:
            time.sleep(0.05)
    return alive
