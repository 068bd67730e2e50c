"""Process-tree CPU and memory from ``/proc``, read from outside the tree.

The measured session is one Python driver process. Under it run the
Spark JVM and, under the JVM, the PySpark daemon and its Python
workers. Workers come and go; when one exits its parent reaps it and
the kernel adds its CPU to the parent's ``cutime``/``cstime``. Summing
``utime + stime + cutime + cstime`` over the live tree therefore counts
every process that ever ran in it, including the reaped ones, and
counts none twice.
"""

from __future__ import annotations

import os
import threading

CATEGORIES = ("driver", "jvm", "pyworker", "other")

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: int) -> tuple[str, int, float, int, int] | None:
    """(comm, ppid, cpu seconds incl. reaped children, rss bytes, start
    time in clock ticks since boot)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses; it ends at the last ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    start = int(fields[19])
    return raw[lpar + 1 : rpar], ppid, (utime + stime + cutime + cstime) / _TICK, rss, start


def start_time(pid: int) -> int | None:
    st = _read_stat(pid)
    return st[4] if st else None


def is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(b")") + 2 : raw.rindex(b")") + 3] == b"Z"


def tree(root: int) -> dict[int, tuple[str, float, int, int]]:
    """pid -> (category, cpu seconds, rss bytes, start time) for ``root``
    and all its descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out: dict[int, tuple[str, float, int, int]] = {}
    stack = [(root, "driver")] if root in stats else []
    while stack:
        pid, inherited = stack.pop()
        comm, _, cpu, rss, start = stats[pid]
        if pid == root:
            cat = "driver"
        elif comm.startswith("java"):
            cat = "jvm"
        elif inherited in ("jvm", "pyworker"):
            cat = "pyworker"
        else:
            cat = "other"
        out[pid] = (cat, cpu, rss, start)
        stack.extend((c, cat) for c in children.get(pid, ()))
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of the whole machine since boot: the
    share of time a hypervisor gave the host's CPUs to other guests."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def cpu_by_category(root: int) -> dict[str, float]:
    totals = dict.fromkeys(CATEGORIES, 0.0)
    for cat, cpu, _, _ in tree(root).values():
        totals[cat] += cpu
    return totals


class Sampler:
    """Polls the tree of ``root`` on a background thread. Keeps the peak
    resident memory of each category (summed over its processes at one
    instant) and every process it saw, with its start time."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss = dict.fromkeys(CATEGORIES, 0)
        self.seen: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> Sampler:
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        now = dict.fromkeys(CATEGORIES, 0)
        for pid, (cat, _, rss, start) in tree(self.root).items():
            now[cat] += rss
            self.seen[pid] = start
        for cat, rss in now.items():
            self.peak_rss[cat] = max(self.peak_rss[cat], rss)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
