"""Per-window task figures from the Spark event log the benchmark's own
session writes (``spark.eventLog.enabled``, trace runs only)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Dict, List

#: SQL metric the Python runners update with the bytes they send to
#: Python workers (Arrow batches for mapInPandas)
PY_SENT = "data sent to Python workers"


@dataclass
class Task:
    launch: float           # seconds since epoch
    finish: float
    cpu_s: float
    gc_s: float
    shuffle_write: int      # bytes
    py_sent: int            # bytes


def read_tasks(logdir: str) -> List[Task]:
    tasks: List[Task] = []
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(logdir)
                   for f in fs if not f.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                sent = sum(int(a.get("Update") or 0)
                           for a in info.get("Accumulables", [])
                           if a.get("Name") == PY_SENT)
                tasks.append(Task(
                    launch=info.get("Launch Time", 0) / 1000.0,
                    finish=info.get("Finish Time", 0) / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write=int((m.get("Shuffle Write Metrics") or {})
                                      .get("Shuffle Bytes Written", 0)),
                    py_sent=sent))
    return tasks


def window_totals(tasks: List[Task], t0: float, t1: float
                  ) -> Dict[str, float]:
    """Sums over the tasks launched inside ``[t0, t1]``."""
    inside = [t for t in tasks if t0 <= t.launch <= t1]
    return {
        "tasks": len(inside),
        "executor_cpu_s": sum(t.cpu_s for t in inside),
        "gc_s": sum(t.gc_s for t in inside),
        "shuffle_write_mb": sum(t.shuffle_write for t in inside) / 2**20,
        "py_sent_mb": sum(t.py_sent for t in inside) / 2**20,
    }
