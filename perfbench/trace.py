"""Spans around the engine's public calls, recorded from the benchmark's own
files: nothing under ``moisturizer_spark/`` is edited.

:func:`install` replaces module attributes and class methods with wrappers
that record one span per call (name, start, end, parent, operation). Spans
stay in memory and are written out when the run ends. Wrappers carry the
wrapped function's ``__module__``/``__qualname__`` (``functools.wraps``), so
a closure shipped to a Python worker that refers to a wrapped module
function is pickled by reference and runs the unwrapped original there.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str       # "<module>.<function>"
    start: float
    end: float
    parent: int | None
    op: str | None  # the workload operation (job group) the span belongs to

    @property
    def module(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    # the current operation and span stack are per thread: the HTTP
    # server handles requests on its own threads
    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span around the ``with`` block."""
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.op()))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


class Patcher:
    """Installs wrappers and restores the originals on :meth:`restore`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def attr(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a method) in a span."""
        self.replace(owner, attr, self.tracer.wrap(vars(owner)[attr], name))

    def module_functions(self, module, prefix: str, rebind=()) -> None:
        """Wrap every public function defined in ``module``; also rebind
        modules in ``rebind`` that imported one of them by name."""
        for attr, fn in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != module.__name__:
                continue
            self.attr(module, attr, f"{prefix}.{attr}")
            wrapped = getattr(module, attr)
            for other in rebind:
                for other_attr, value in list(vars(other).items()):
                    if value is fn:
                        self._undo.append((other, other_attr, fn))
                        setattr(other, other_attr, wrapped)

    def replace(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._undo):
            setattr(owner, attr, original)
        self._undo.clear()


def install(tracer: Tracer, workload: str) -> Patcher:
    """Wrap the public calls of the layers ``workload`` goes through."""
    from moisturizer_spark import crud, ingest, registry, service, session, storage, typesys

    p = Patcher(tracer)
    p.attr(session, "get_spark", "session.get_spark")
    for method in ("get_or_create", "save"):
        p.attr(registry.Registry, method, f"registry.{method}")
    for method in ("upsert", "append", "lookup", "delete_by_key"):
        p.attr(storage.ParquetTable, method, f"storage.{method}")
    if workload == "event_store":
        p.attr(ingest.IngestEngine, "ingest_batch", "ingest.ingest_batch")
        p.attr(ingest, "unwrap_envelope", "ingest.unwrap_envelope")
        p.attr(service._Handler, "_handle", "service.request")
        for method in ("authenticate", "get_object", "create_object", "upsert_object",
                       "patch_object", "delete_object"):
            p.attr(crud.Engine, method, f"crud.{method}")
        p.attr(typesys.Descriptor, "validate", "typesys.validate")
        p.attr(crud, "flatten_dict", "flatten.flatten_dict")
    elif workload == "query_mix":
        import importlib
        import pkgutil

        from moisturizer_spark import operators, workload as wl

        p.attr(wl, "load_tables", "session.load_tables")
        for info in pkgutil.iter_modules(operators.__path__):
            mod = importlib.import_module(f"moisturizer_spark.operators.{info.name}")
            p.module_functions(mod, f"operators.{info.name}", rebind=(wl, operators))
    return p


def observe_commits(tracer: Tracer, patcher: Patcher, commits: list[dict]) -> None:
    """Record, for each storage write made inside a workload operation, how
    many buckets the commit rewrote and how many bytes of new data files
    it wrote. Runs outside the storage spans, so it adds no span time."""
    from moisturizer_spark.storage import ParquetTable

    for method in ("upsert", "append", "delete_by_key"):
        inner = vars(ParquetTable)[method]

        def observed(table, *args, _inner=inner, **kwargs):
            before = table._load_manifest()
            try:
                return _inner(table, *args, **kwargs)
            finally:
                if tracer.op() is not None:
                    commits.append({"op": tracer.op(), **_commit_delta(
                        table.path, before, table._load_manifest())})

        patcher.replace(ParquetTable, method, functools.wraps(inner)(observed))


def _commit_delta(path: str, before: dict | None, after: dict | None) -> dict:
    old = (before or {}).get("buckets", {})
    new = (after or {}).get("buckets", {})
    changed = sum(1 for b in set(old) | set(new) if old.get(b) != new.get(b))
    old_dirs = {d for dirs in old.values() for d in dirs}
    written = 0
    for d in {d for dirs in new.values() for d in dirs} - old_dirs:
        for root, _dirs, files in os.walk(os.path.join(path, d)):
            written += sum(os.path.getsize(os.path.join(root, f)) for f in files
                           if f.endswith(".parquet"))
    return {"buckets": changed, "bytes": written}


# -- span arithmetic ---------------------------------------------------------

def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _covered(children.get(s.id, [])) for s in spans}


def module_self_s(spans: list[Span]) -> dict[str, float]:
    """Self time summed per module (the first part of the span name)."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.module] = out.get(s.module, 0.0) + selfs[s.id]
    return out


# -- Spark event log -----------------------------------------------------------

def event_log_by_group(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, tasks, shuffle bytes written, bytes
    spilled (memory + disk) and task GC ms, from the uncompressed event log
    of the (stopped) application."""
    files = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    files = [f for f in files if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {"jobs": 0, "stages": 0, "tasks": 0,
                                      "shuffle_bytes": 0, "spill_bytes": 0, "gc_ms": 0})

    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    b = bucket(group)
                    b["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    group = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if group is not None and "Submission Time" in ev["Stage Info"]:
                        bucket(group)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    b = bucket(group)
                    b["tasks"] += 1
                    b["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    b["gc_ms"] += tm.get("JVM GC Time", 0)
    return out
