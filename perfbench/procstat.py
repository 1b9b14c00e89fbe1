"""CPU seconds and resident memory of this process and all its
descendants (the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:
        pass
    return out


def tree() -> list[int]:
    """This process and every live descendant."""
    todo = [os.getpid()]
    seen: list[int] = []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def cpu_seconds() -> float:
    """utime+stime of each process plus the reaped-children totals, so a
    worker that exits inside the window still counts."""
    total = 0
    for pid in tree():
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def rss_by_process() -> dict[int, int]:
    """RSS per process. A child of the JVM still running the java binary
    is a spawn in progress (it shares the JVM's pages until exec) and is
    not counted twice."""
    out = {}
    for pid in tree():
        f = _stat_fields(pid)
        if f is None:
            continue
        exe = _exe(pid)
        if exe.endswith("/java") and _exe(int(f[1])) == exe:
            continue
        out[pid] = int(f[21]) * _PAGE
    return out


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


class PeakRss:
    """Samples the tree's summed RSS every 0.1 s on a background thread;
    ``peak`` is the largest sum seen and ``at_peak`` the per-process RSS
    at that moment, largest first."""

    INTERVAL = 0.1

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_pid = rss_by_process()
        total = sum(by_pid.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = sorted(by_pid.values(), reverse=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL)

    def __enter__(self) -> "PeakRss":
        self.at_peak: list[int] = []
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
