"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files: the package's public
functions are wrapped where they are looked up (a module that did
``from ..transform import clean_state_vectors`` holds its own reference,
so every module global bound to the original is replaced, not only the
defining module's). Each span keeps its name, start, end, parent, the
operation it belongs to, and the engine-counter deltas read from Spark's
status store at its two ends. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "data_warehouse_opensky_spark"

#: (module, attribute, span name). ``Class.method`` attributes are
#: patched on the class; plain functions in every package module that
#: holds a reference to them.
TARGETS: tuple[tuple[str, str, str], ...] = (
    (f"{PKG}.warehouse.control", "FileLog.record", "control.record"),
    (f"{PKG}.warehouse.control", "FileLog.register_new", "control.register_new"),
    (f"{PKG}.warehouse.control", "FileLog.current", "control.current"),
    (f"{PKG}.warehouse.control", "FileLog.maybe_compact", "control.maybe_compact"),
    (f"{PKG}.warehouse.control", "FileLog.compact", "control.compact"),
    (f"{PKG}.warehouse.etl", "run_incremental_load", "etl.load"),
    (f"{PKG}.warehouse.etl", "discover_new_files", "etl.discover"),
    (f"{PKG}.warehouse.etl", "stage_files", "etl.stage"),
    (f"{PKG}.warehouse.etl", "build_gold_marts", "etl.gold"),
    (f"{PKG}.transform", "clean_state_vectors", "transform.clean"),
    (f"{PKG}.sources.registry", "load_table", "sources.load_table"),
    (f"{PKG}.warehouse.versioned", "VersionedParquetTable.merge_into", "versioned.merge_into"),
    (f"{PKG}.session", "get_spark", "session.get_spark"),
)

#: (module, attribute, span name, layer): wrapped like TARGETS, but a
#: call opens a span only when the innermost open span belongs to
#: `layer`. The parquet writes that warehouse.etl issues itself are where
#: Spark executes the staged and gold data; with their own span, etl's
#: self time is its driver-side control work. The ledger's writes, made
#: inside control.record, stay control time.
SCOPED_TARGETS: tuple[tuple[str, str, str, str], ...] = (
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "exec.write", "etl"),
)

#: Engine counters kept per span, summed from the status store's stages.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)

_FINAL = {"COMPLETE", "FAILED", "SKIPPED"}


class EngineCounters:
    """Cumulative engine counters of one SparkContext, read incrementally:
    each snapshot visits only stages it has not yet counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._floor = -1  # every stage id <= floor is counted
        self._seen: set[int] = set()
        self._totals = dict.fromkeys(COUNTERS, 0.0)
        self._job_base = self._jsc.dagScheduler().nextJobId()

    def snapshot(self) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        stages = self._store.stageList(
            jvm.java.util.ArrayList(),
            False,
            False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        pending: list[int] = []
        top = self._floor
        t = self._totals
        # stageList is ordered newest stage first
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._floor:
                break
            top = max(top, sid)
            if sid in self._seen:
                continue
            if str(s.status()) not in _FINAL:
                pending.append(sid)
                continue
            self._seen.add(sid)
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks()
            t["failed_tasks"] += s.numFailedTasks()
            t["executor_run_s"] += s.executorRunTime() / 1e3
            t["executor_cpu_s"] += s.executorCpuTime() / 1e9
            t["gc_s"] += s.jvmGcTime() / 1e3
            t["input_bytes"] += s.inputBytes()
            t["output_bytes"] += s.outputBytes()
            t["shuffle_read_bytes"] += s.shuffleReadBytes()
            t["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t["spill_bytes"] += s.diskBytesSpilled()
        self._floor = min(pending) - 1 if pending else top
        self._seen = {s for s in self._seen if s > self._floor}
        t["jobs"] = float(self._jsc.dagScheduler().nextJobId() - self._job_base)
        return dict(t)


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    phase: str
    name: str
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)
    #: tracer time spent inside this span, outside its children
    inner_overhead: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. `counters` is an EngineCounters (or any
    object with a ``snapshot()`` returning a dict of cumulative values)."""

    def __init__(self, counters=None):
        self.counters = counters
        self.spans: list[Span] = []
        self.phase = "setup"
        self.op: int | None = None
        self._stack: list[Span] = []
        self._next_id = 1

    def _snap(self) -> dict[str, float]:
        return self.counters.snapshot() if self.counters is not None else {}

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        before = self._snap()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=self._next_id,
            parent=parent.id if parent else None,
            op=self.op,
            phase=self.phase,
            name=name,
            start=time.perf_counter(),
        )
        self._next_id += 1
        self._charge(sp.start - t0)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            after = self._snap()
            sp.counters = {k: after[k] - before.get(k, 0.0) for k in after}
            self._stack.pop()
            self.spans.append(sp)
            self._charge(time.perf_counter() - sp.end)

    def _charge(self, dt: float) -> None:
        # Only the innermost open span: overhead inside a child's own
        # interval is already excluded from its parent via the child's
        # duration.
        if self._stack:
            self._stack[-1].inner_overhead += dt

    def wrap(self, fn, name: str, under: str | None = None):
        """`fn` inside a span named `name`; with `under`, only when the
        innermost open span belongs to that layer."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if under is not None and (not self._stack or self._stack[-1].layer != under):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus what its children cover and the
        tracer's own time inside it."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.duration
        return {
            sp.id: sp.duration - child.get(sp.id, 0.0) - sp.inner_overhead
            for sp in self.spans
        }

    def self_counters(self) -> dict[int, dict[str, float]]:
        """Span id -> engine-counter deltas not covered by its children."""
        out = {sp.id: dict(sp.counters) for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None and sp.parent in out:
                for k, v in sp.counters.items():
                    out[sp.parent][k] = out[sp.parent].get(k, 0.0) - v
        return out

    def records(self) -> list[dict]:
        return [
            {
                "id": sp.id,
                "parent": sp.parent,
                "op": sp.op,
                "phase": sp.phase,
                "name": sp.name,
                "start": sp.start,
                "end": sp.end,
                "counters": sp.counters,
            }
            for sp in self.spans
        ]


def _resolve(module: str, attr: str):
    mod = importlib.import_module(module)
    if "." in attr:
        cls_name, meth = attr.split(".", 1)
        cls = getattr(mod, cls_name)
        return cls, meth, cls.__dict__[meth]
    return mod, attr, getattr(mod, attr)


def install(tracer: Tracer, targets=TARGETS, scoped=SCOPED_TARGETS):
    """Wrap every target; returns a function that restores them all."""
    undo: list[tuple[object, str, object]] = []
    for module, attr, span_name, under in [(*t, None) for t in targets] + list(scoped):
        owner, name, orig = _resolve(module, attr)
        wrapped = tracer.wrap(orig, span_name, under)
        if isinstance(owner, type):
            undo.append((owner, name, orig))
            setattr(owner, name, wrapped)
            continue
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(PKG):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    undo.append((mod, key, orig))
                    setattr(mod, key, wrapped)

    def restore() -> None:
        for owner, name, orig in reversed(undo):
            setattr(owner, name, orig)

    return restore
