"""In-memory spans around calls into the engine's layers.

:class:`Tracer` wraps chosen public functions and methods of ``jio_spark``
modules on the Spark driver, and the PySpark calls that run a Spark job
(``DataFrame.count``, ``collect``, writer saves, ``Observation.get``). A
wrapped call records one span: its layer, name, start, end, the span that
called it, and the trace id of the benchmark pass it belongs to. A task
submitted to a ``ThreadPoolExecutor`` takes the submitting thread's
current span as its parent, so the job's per-group work on pool threads
nests under ``ClipsValidationJob.run``. Spans stay in memory and are
written as JSONL once, at the end of the run.

Spark evaluates lazily: the layers' functions mostly build plans, and the
work runs in the action that some caller triggers, often the runner
executing one fused plan for rules, referential and decode together.
:func:`layer_seconds` therefore reports two figures per layer: ``plan``,
the self time of its spans with action spans taken out (driver-side
Python and plan building), and ``action``, the time of the Spark actions
the layer's own functions ran.

Only driver-side entry points are wrapped. Functions that run inside
Python workers (``parse_wav``, ``snr_db_vs_period``, ...) are left alone:
worker closures are pickled with the globals they use, and a wrapper
there would ship the tracer to the workers.
"""

from __future__ import annotations

import importlib
import itertools
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Dict, Iterable, List, Optional, Sequence, Tuple


@dataclass
class Span:
    id: int
    parent: Optional[int]
    trace: Optional[int]
    layer: str
    name: str
    thread: int
    start: float
    end: float

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(start: float, end: float,
            intervals: Iterable[Tuple[float, float]]) -> float:
    """Length of the part of ``[start, end]`` that the union of
    ``intervals`` covers."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals
                     if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: Sequence[Span]) -> Dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    kids: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(s.start, s.end, kids.get(s.id, ()))
            for s in spans}


#: the layer of spans around PySpark calls that run a Spark job
ACTIONS = "spark.actions"


def layer_seconds(spans: Sequence[Span]) -> Dict[str, Dict[str, float]]:
    """``{"plan": layer -> summed self time of its spans, "action": layer
    -> summed duration of the action spans its spans called directly}``.

    Action spans nested in another action span (``first`` calling
    ``collect``) are not counted again; action spans without a parent
    (the benchmark's own checks) are charged to no layer. Sums run over
    threads, so concurrent groups can add up to more than the wall time.
    """
    st = self_times(spans)
    layer_of = {s.id: s.layer for s in spans}
    plan: Dict[str, float] = {}
    action: Dict[str, float] = {}
    for s in spans:
        if s.layer != ACTIONS:
            plan[s.layer] = plan.get(s.layer, 0.0) + st[s.id]
            continue
        caller = layer_of.get(s.parent)
        if caller is not None and caller != ACTIONS:
            action[caller] = action.get(caller, 0.0) + s.dur
    return {"plan": plan, "action": action}


#: layer -> (module, attribute path): the entry points ClipsValidationJob
#: calls on the driver.
#: "Class.method" patches the class; a plain name patches the module
#: attribute and every already-imported ``jio_spark`` module that bound
#: the same function by name.
ENTRY_POINTS: Dict[str, Sequence[Tuple[str, str]]] = {
    "sources": [("jio_spark.sources.tables", "list_partition_values"),
                ("jio_spark.sources.tables", "check_partition_value_types")],
    "compiler": [("jio_spark.compiler", "compile_ruleset")],
    "engine": [("jio_spark.engine", "validate"),
               ("jio_spark.engine", "rule_count_exprs")],
    "operators.stats": [("jio_spark.operators.stats", "stats_exprs")],
    "audio": [("jio_spark.audio.files", "decode_check_files"),
              ("jio_spark.audio.files", "list_row_group_splits"),
              ("jio_spark.audio.files", "footer_row_counts"),
              ("jio_spark.audio.decode", "decode_check"),
              ("jio_spark.audio.decode", "decode_violations"),
              ("jio_spark.audio.decode", "salted_repartition")],
    "operators.uniqueness": [
        ("jio_spark.operators.uniqueness", "uniqueness_check")],
    "operators.drift": [("jio_spark.operators.drift", "snapshot"),
                        ("jio_spark.operators.drift", "drift_check")],
    "sinks": [("jio_spark.sinks.writers", "RunSink.overwrite_partitions"),
              ("jio_spark.sinks.writers", "RunSink.overwrite"),
              ("jio_spark.sinks.writers", "RunSink.clear_outputs"),
              ("jio_spark.sinks.writers", "RunSink.write_run_metadata"),
              ("jio_spark.sinks.writers", "RunSink.read_run_metadata"),
              ("jio_spark.sinks.writers", "Manifest.mark"),
              ("jio_spark.sinks.writers", "Manifest.completed"),
              ("jio_spark.sinks.writers", "Manifest.clear"),
              ("jio_spark.sinks.writers", "exemplar_cap"),
              ("jio_spark.sinks.writers", "frame_fingerprint"),
              ("jio_spark.sinks.writers", "ruleset_fingerprint")],
    "runner": [("jio_spark.runner", "ClipsValidationJob.run"),
               ("jio_spark.runner", "ClipsValidationJob.group_violations")],
    ACTIONS: [("pyspark.sql.classic.dataframe", f"DataFrame.{m}")
              for m in ("count", "collect", "toPandas", "take", "first",
                        "head", "foreach")]
    + [("pyspark.sql.readwriter", f"DataFrameWriter.{m}")
       for m in ("save", "parquet", "insertInto", "saveAsTable")]
    + [("pyspark.sql.observation", "Observation.get")],
}


class Tracer:
    """Records spans while :attr:`enabled`; wrappers pass straight
    through otherwise."""

    def __init__(self):
        self.enabled = False
        self.trace: Optional[int] = None
        self.spans: List[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: List[Tuple[object, str, object]] = []

    def wrap(self, fn, layer: str, name: str):
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append(Span(
                        sid, parent, tracer.trace, layer, name,
                        threading.get_ident(), t0, t1))

        traced.__wrapped__ = fn
        traced.__name__ = getattr(fn, "__name__", name)
        return traced

    def _submit(self, orig_submit):
        """``ThreadPoolExecutor.submit`` that runs the task with the
        submitting thread's current span as the base of its stack."""
        tracer = self

        def submit(pool, fn, /, *args, **kwargs):
            if not tracer.enabled:
                return orig_submit(pool, fn, *args, **kwargs)
            stack = getattr(tracer._local, "stack", None)
            base = stack[-1:] if stack else []

            def task(*a, **k):
                tracer._local.stack = list(base)
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.stack = []
            return orig_submit(pool, task, *args, **kwargs)
        return submit

    def install(self, entry_points: Dict[str, Sequence[Tuple[str, str]]]
                = ENTRY_POINTS) -> None:
        self._set(ThreadPoolExecutor, "submit",
                  self._submit(ThreadPoolExecutor.submit))
        for layer, eps in entry_points.items():
            for modname, attr in eps:
                mod = importlib.import_module(modname)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    orig = cls.__dict__[meth]
                    if isinstance(orig, property):
                        wrapped = property(self.wrap(orig.fget, layer,
                                                     attr))
                    else:
                        wrapped = self.wrap(orig, layer, attr)
                    self._set(cls, meth, wrapped)
                    continue
                orig = getattr(mod, attr)
                wrapped = self.wrap(orig, layer, f"{modname}.{attr}")
                for other in list(sys.modules.values()):
                    name = getattr(other, "__name__", "") or ""
                    if name.startswith("jio_spark") and \
                            getattr(other, attr, None) is orig:
                        self._set(other, attr, wrapped)

    def _set(self, obj, attr: str, value) -> None:
        # the class's own attribute (a property stays a property)
        old = (obj.__dict__[attr] if isinstance(obj, type)
               else getattr(obj, attr))
        self._undo.append((obj, attr, old))
        setattr(obj, attr, value)

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, old = self._undo.pop()
            setattr(obj, attr, old)

    def write_jsonl(self, path: str, t_offset: float = 0.0) -> None:
        """One JSON object per span; times in seconds, shifted by
        ``t_offset`` (pass ``time.time() - time.perf_counter()`` for
        wall-clock times)."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "parent": s.parent, "trace": s.trace,
                    "layer": s.layer, "name": s.name, "thread": s.thread,
                    "start": s.start + t_offset, "end": s.end + t_offset,
                }) + "\n")
