"""CPU time and resident memory of this process tree, read from ``/proc``.

The tree is the benchmark's Python process, the Spark driver JVM it
launches, and the Python workers the JVM forks, so one reading covers the
whole engine of a ``local[N]`` run.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system seconds of the live tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime: fields 14-17 of proc(5)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, counting each shared page once.

    The Python workers are forked from one daemon and share most of their
    pages with it, so plain RSS would count those pages once per worker;
    the proportional set size (PSS) splits each shared page among its
    sharers and sums to the tree's real footprint.
    """
    kb = 0
    for pid in tree_pids(root):
        try:
            rollup = Path(f"/proc/{pid}/smaps_rollup").read_text()
        except OSError:
            continue
        for line in rollup.splitlines():
            if line.startswith("Pss:"):
                kb += int(line.split()[1])
                break
    return kb / 1024


class RssSampler:
    """Samples ``tree_rss_mb`` in a background thread; ``peak_mb`` is the
    largest value seen since the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_rss_mb(self.root)
            with self._lock:
                self.peak_mb = max(self.peak_mb, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak_mb = tree_rss_mb(self.root)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
