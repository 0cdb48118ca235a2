"""Outside-in resource accounting from /proc.

The measured process set is this Python driver and every descendant: the
JVM that Spark launches and the Python workers the JVM forks. CPU time
is read from /proc/<pid>/stat; a process's `cutime`/`cstime` already hold
the time of the descendants it has reaped, so summing all four fields
over the live tree counts every process once.
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
    except OSError:  # the process exited between listing and reading
        return None
    # fields after the ")" that closes the command name
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the live tree and its reaped children."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_times() -> tuple[int, int]:
    """(steal ticks, total ticks) machine-wide, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


class RssSampler:
    """Samples the summed RSS of the tree every `interval` seconds on a
    background thread; `peak` is the largest sum seen since start."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids = tree_pids(self.root)
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # workers come and go; re-list now and then
                pids = tree_pids(self.root)
            self.peak = max(self.peak, tree_rss_bytes(pids))
            n += 1
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(tree_pids(self.root)))


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of `pids` runs (a zombie counts as ended); SIGTERM
    whatever is left at the deadline. Returns the pids that were left."""

    def alive() -> list[int]:
        out = []
        for pid in pids:
            fields = _stat_fields(pid)
            if fields is not None and fields[0] != "Z":
                out.append(pid)
        return out

    deadline = time.monotonic() + timeout
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    left = alive()
    for pid in left:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    return left
