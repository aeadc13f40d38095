"""Process-tree CPU and memory read from ``/proc`` (psutil is not
assumed).

The tree is this process and every descendant: the Spark driver JVM it
launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all of its descendants."""
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def program_cpu_s() -> float:
    """User+system CPU seconds of the program under test: every
    descendant of this process (the JVM and its Python workers, including
    children already reaped, via cutime/cstime) plus this process's
    calling thread, where the client makes its engine calls. The
    benchmark's own background threads (host probe, memory sampler) are
    left out. Call it from the client thread."""
    me = os.getpid()
    ticks = 0
    for pid in tree_pids():
        f = _stat_fields(pid)
        if f is None:
            continue
        # fields after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
        ticks += int(f[13]) + int(f[14])
        if pid != me:
            ticks += int(f[11]) + int(f[12])
    return ticks / _TICK + time.thread_time()


def tree_pss_bytes() -> int:
    """Summed proportional set size: pages shared between processes (the
    Python workers forked from one daemon) count once, not per process."""
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass  # the process exited between the listing and the read
    return total


class MemorySampler:
    """Background sampler of the tree's resident memory (summed PSS);
    ``peak`` is the largest sum seen, sampled every 0.25 s."""

    def __init__(self, interval: float = 0.25):
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())
