"""CPU and RSS of a process tree, sampled from outside through ``/proc``.

The tree is one benchmark driver: the Python driver process, the Spark JVM
it launches, and the PySpark worker daemon with its forked Python workers.
Each sample attributes cumulative CPU seconds and resident memory to one of
the classes ``driver``, ``jvm``, ``pyworker`` and ``other`` (launcher
scripts and processes the JVM spawns; counted for CPU, not for RSS).

Exited processes are the hard part. Summing ``utime + stime`` over the live
processes drops whenever a worker exits, so a window's CPU can come out
negative. Instead every live process contributes its own time plus the time
of the children it has reaped (``cutime + cstime``). When a process
disappears, its last seen value moves into a ``departed`` total for its
class, and the same amount is subtracted from its parent if the parent's
reaped-children time grew by at least that much (the parent reaped it).
The sum therefore never decreases. The last slice of a child's CPU that no
sample saw lands in the parent's class.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

CLASSES = ("driver", "jvm", "pyworker", "other")
_TICK = float(os.sysconf("SC_CLK_TCK"))
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass
class ProcStat:
    pid: int
    ppid: int
    comm: str
    own: float          # utime + stime, seconds
    reaped: float       # cutime + cstime, seconds
    start: int          # start time in ticks since boot (pid reuse guard)
    rss: int            # bytes


def read_stat(pid: int) -> Optional[ProcStat]:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    lp, rp = raw.find("("), raw.rfind(")")
    rest = raw[rp + 2:].split()
    return ProcStat(pid=pid, ppid=int(rest[1]), comm=raw[lp + 1:rp],
                    own=(int(rest[11]) + int(rest[12])) / _TICK,
                    reaped=(int(rest[13]) + int(rest[14])) / _TICK,
                    start=int(rest[19]), rss=int(rest[21]) * _PAGE)


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def list_tree(root: int) -> Dict[int, ProcStat]:
    """Stats of ``root`` and all its live descendants."""
    stats: Dict[int, ProcStat] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                stats[st.pid] = st
    kids: Dict[int, List[int]] = {}
    for st in stats.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    out: Dict[int, ProcStat] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


@dataclass
class Sample:
    t: float
    cpu: Dict[str, float]
    rss: Dict[str, int]

    @property
    def cpu_total(self) -> float:
        return sum(self.cpu.values())

    @property
    def rss_total(self) -> int:
        """RSS of driver, JVM and Python workers; ``other`` is left out
        because a process the JVM is spawning reports the JVM's pages."""
        return sum(self.rss[c] for c in CLASSES if c != "other")


@dataclass
class TreeAccount:
    """Monotone per-class CPU accounting over successive tree snapshots."""

    root: int
    _last: Dict[Tuple[int, int], ProcStat] = field(default_factory=dict)
    _cls: Dict[Tuple[int, int], str] = field(default_factory=dict)
    _absorbed: Dict[Tuple[int, int], float] = field(default_factory=dict)
    departed: Dict[str, float] = field(
        default_factory=lambda: {c: 0.0 for c in CLASSES})

    def _classify(self, st: ProcStat, tree: Dict[int, ProcStat]) -> str:
        if st.pid == self.root:
            return "driver"
        parent = tree.get(st.ppid)
        pcls = (self._cls.get((parent.pid, parent.start))
                if parent is not None else None)
        if pcls == "pyworker" or any(
                m in _cmdline(st.pid)
                for m in ("pyspark.daemon", "pyspark.worker")):
            return "pyworker"
        # the JVM is the driver's child; a "java" child of the JVM is a
        # process it is spawning, which shares the JVM's pages until exec
        if st.comm == "java" and pcls == "driver":
            return "jvm"
        return "other"

    def update(self, tree: Dict[int, ProcStat], t: float) -> Sample:
        # classify parents before children: sort by start time. A process
        # is classified again when its command changes (the launcher
        # script exec()s into the JVM)
        for st in sorted(tree.values(), key=lambda s: (s.start, s.pid)):
            key = (st.pid, st.start)
            prev = self._last.get(key)
            if key not in self._cls or (prev and prev.comm != st.comm):
                self._cls[key] = self._classify(st, tree)
        live = {(s.pid, s.start) for s in tree.values()}
        gone = [k for k in self._last if k not in live]
        # reaped-children growth of each live process since last sample
        growth = {}
        for st in tree.values():
            prev = self._last.get((st.pid, st.start))
            growth[(st.pid, st.start)] = (st.reaped - prev.reaped
                                          if prev else 0.0)
        for k in gone:
            st = self._last.pop(k)
            last = st.own + st.reaped - self._absorbed.pop(k, 0.0)
            self.departed[self._cls[k]] += last
            parent = tree.get(st.ppid)
            if parent is not None:
                pk = (parent.pid, parent.start)
                if growth.get(pk, 0.0) >= last - 1.0 / _TICK:
                    self._absorbed[pk] = self._absorbed.get(pk, 0.0) + last
                    growth[pk] -= last
        cpu = dict(self.departed)
        rss = {c: 0 for c in CLASSES}
        for st in tree.values():
            k = (st.pid, st.start)
            self._last[k] = st
            cls = self._cls[k]
            cpu[cls] += st.own + st.reaped - self._absorbed.get(k, 0.0)
            rss[cls] += st.rss
        return Sample(t=t, cpu=cpu, rss=rss)


class TreeSampler:
    """Background thread sampling the tree under ``root`` every
    ``interval`` seconds until :meth:`stop`."""

    def __init__(self, root: int, interval: float = 0.1):
        self.account = TreeAccount(root)
        self.interval = interval
        self.samples: List[Sample] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def sample_once(self) -> Sample:
        tree = list_tree(self.account.root)
        s = self.account.update(tree, time.time())
        self.samples.append(s)
        return s

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample_once()
            self._stop.wait(self.interval)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


def cpu_at(samples: List[Sample], t: float) -> Dict[str, float]:
    """Per-class cumulative CPU at time ``t``, linearly interpolated
    between the samples around it."""
    if not samples:
        return {c: 0.0 for c in CLASSES}
    if t <= samples[0].t:
        return dict(samples[0].cpu)
    for a, b in zip(samples, samples[1:]):
        if a.t <= t <= b.t:
            w = (t - a.t) / (b.t - a.t) if b.t > a.t else 1.0
            return {c: a.cpu[c] + w * (b.cpu[c] - a.cpu[c])
                    for c in CLASSES}
    return dict(samples[-1].cpu)


def cpu_between(samples: List[Sample], t0: float, t1: float
                ) -> Dict[str, float]:
    a, b = cpu_at(samples, t0), cpu_at(samples, t1)
    return {c: b[c] - a[c] for c in CLASSES}


def peak_rss(samples: List[Sample], t0: float, t1: float) -> int:
    inside = [s.rss_total for s in samples if t0 <= s.t <= t1]
    return max(inside) if inside else 0
