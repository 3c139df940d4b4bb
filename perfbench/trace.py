"""Span tracing from outside the engine.

:func:`install` replaces the public functions of the engine's modules (and
``DataFrame.collect`` / ``DataFrame.localCheckpoint``) with wrappers that
record a span per call: name, start, end, parent span and call id.  Spans
stay in memory; the run reports aggregates at the end.  Nothing in the
engine is edited: the wrappers are applied at run time and only exist in
the benchmark's process.

Spark work is attributed to a call through job groups.  PySpark pins each
Python thread to a JVM thread, so job groups are per thread: the group is
set inside the wrapped tool call, on the thread that runs it (the HTTP
server's handler thread for MCP calls), never in the client.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from dataclasses import dataclass

# The one active tracer of this process.  Wrappers look it up at call time
# through _active() (a module-level function, so it pickles by reference
# if a wrapped function ever ships to a Python worker, where it is None).
_ACTIVE = None


def _active():
    return _ACTIVE


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    call: int | None


class Tracer:
    """Collects spans.  ``enabled`` gates recording per call, so one run
    can interleave traced and untraced calls and measure the overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.call_id: int | None = None  # the client call in flight
        self.call_root: int | None = None  # its client-side span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = itertools.count(1)

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        # a span opened on a thread with no open span (the HTTP handler
        # thread) belongs to the client call in flight
        parent = stack[-1].sid if stack else self.call_root
        s = Span(next(self._ids), name, time.perf_counter(), 0.0, parent, self.call_id)
        stack.append(s)
        return s

    def finish(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is s:
            stack.pop()
        with self._lock:
            self.spans.append(s)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted((max(c.start, s.start), min(c.end, s.end))
                             for c in children.get(s.sid, [])):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = (s.end - s.start) - covered
    return out


# -- wrapping -----------------------------------------------------------------


def _wrap(fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        tracer = _active()
        span = tracer.begin(name) if tracer is not None else None
        try:
            return fn(*args, **kwargs)
        finally:
            if span is not None:
                tracer.finish(span)

    return traced


# Modules whose public functions and public class methods are wrapped.
# The operators package is expanded to all of its modules.
MODULES = (
    "mcpvectordb_spark.server",
    "mcpvectordb_spark.api",
    "mcpvectordb_spark.embedder",
    "mcpvectordb_spark.store",
    "mcpvectordb_spark.ingest",
    "mcpvectordb_spark.operators",
)
# Single names outside those modules, or private, that are layer boundaries
# the metrics name: the ingest chunk stage and the store's delete-rewrite.
EXTRA = {("mcpvectordb_spark.chunker", "chunk_documents"),
         ("mcpvectordb_spark.store", "ChunkStore._delete_rewrite")}


def _short(modname: str) -> str:
    return modname.removeprefix("mcpvectordb_spark.")


def _module_names() -> list[str]:
    names = []
    for m in MODULES:
        mod = importlib.import_module(m)
        if hasattr(mod, "__path__"):
            names += [f"{m}.{i.name}" for i in pkgutil.iter_modules(mod.__path__)]
        else:
            names.append(m)
    return names


class Installation:
    """Undo record for :func:`install`."""

    def __init__(self) -> None:
        self._undo: list = []

    def set(self, owner, attr: str, value) -> None:
        old = owner.__dict__[attr]
        self._undo.append(lambda: setattr(owner, attr, old))
        setattr(owner, attr, value)

    def set_item(self, d: dict, key, value) -> None:
        old = d[key]
        self._undo.append(lambda: d.__setitem__(key, old))
        d[key] = value

    def remove(self) -> None:
        global _ACTIVE
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()
        _ACTIVE = None


def install(tracer: Tracer) -> Installation:
    """Wrap every public function and public method of the engine modules,
    the catalog's query functions and DataFrame.collect/localCheckpoint.
    A function imported by name into another engine module is replaced
    there too, so call sites that bound it at import time are traced."""
    global _ACTIVE
    # the classic (JVM-backed) DataFrame overrides the abstract API class
    from pyspark.sql.classic.dataframe import DataFrame

    from mcpvectordb_spark import catalog

    inst = Installation()
    replaced: dict[int, object] = {}
    whole = _module_names()
    for modname in whole + sorted({m for m, _ in EXTRA} - set(whole)):
        mod = importlib.import_module(modname)
        for attr, obj in list(vars(mod).items()):
            if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                continue
            if modname not in whole and (modname, attr) not in EXTRA:
                continue
            if inspect.isfunction(obj):
                wrapped = _wrap(obj, f"{_short(modname)}.{attr}")
                inst.set(mod, attr, wrapped)
                replaced[id(obj)] = wrapped
            elif inspect.isclass(obj) and not issubclass(obj, BaseException):
                for mname, meth in list(vars(obj).items()):
                    public = (not mname.startswith("_")
                              or (modname, f"{attr}.{mname}") in EXTRA)
                    if public and inspect.isfunction(meth):
                        inst.set(obj, mname, _wrap(meth, f"{_short(modname)}.{attr}.{mname}"))
    # rebind names other engine modules imported with `from x import f`
    for modname, mod in list(sys.modules.items()):
        if not modname.startswith("mcpvectordb_spark") or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in replaced:
                inst.set(mod, attr, replaced[id(obj)])
    for qname, fn in list(catalog.QUERIES.items()):
        inst.set_item(catalog.QUERIES, qname, _wrap(fn, f"catalog.{qname}"))
    inst.set(DataFrame, "collect", _wrap(DataFrame.collect, "spark.DataFrame.collect"))
    inst.set(DataFrame, "localCheckpoint",
             _wrap(DataFrame.localCheckpoint, "spark.DataFrame.localCheckpoint"))
    _ACTIVE = tracer
    return inst


# -- Spark job accounting -------------------------------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) for one job group.  The listener bus is
    drained first: the status tracker learns of finished stages
    asynchronously, and a count read too early would come up short."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
    return len(jobs), stages, tasks
