"""Per-layer spans for the traced run, read against Spark's own counters.

A layer is one module of the package (``LAYERS``). ``Tracer.install``
wraps every public function and public class method those modules
define, and rebinds the wrapped names wherever the package (or the
benchmark) imported them, so nested calls between layers are traced
without editing the package. A call that stays inside its own layer
opens no new span.

Each top-level span (a call the benchmark makes) runs under its own
Spark job group. After the run, every group's jobs and stages are read
from the SparkContext's status tracker and status store. Attribution:

- ``wall_s``: span time, summed per layer.
- ``self_s``: span time minus the time its child spans cover, except
  that Spark job time of the call belongs to the top-level span's
  layer: jobs execute the plan the called layer built, even when a
  nested helper (``parquet_io.write_parquet``) triggered the action.
  The layers' ``self_s`` therefore add up to the top-level span time.
- ``driver_s``: the part of ``self_s`` that no job of the call
  overlaps -- planning, footer reads, pyarrow work, collects.
- ``jobs``, ``tasks``, ``failed_tasks``, ``shuffle_mb`` (written),
  ``spill_mb`` (memory + disk), ``gc_s``: from the call's job group,
  charged to the top-level span's layer.

Spans stay in memory until ``summary`` runs after the timed region.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict

LAYERS = {
    "session": "parq_tools_spark.session",
    "parquet_io": "parq_tools_spark.sources.parquet_io",
    "query_parser": "parq_tools_spark.plans.query_parser",
    "filter": "parq_tools_spark.operators.filter",
    "concat": "parq_tools_spark.operators.concat",
    "index_ops": "parq_tools_spark.operators.index_ops",
    "schema_tools": "parq_tools_spark.operators.schema_tools",
    "compare": "parq_tools_spark.operators.compare",
    "profile": "parq_tools_spark.operators.profile",
    "lazy": "parq_tools_spark.lazy",
    "calculated_columns": "parq_tools_spark.functions.calculated_columns",
    "text": "parq_tools_spark.operators.text",
    "dedup": "parq_tools_spark.operators.dedup",
    "search": "parq_tools_spark.operators.search",
}
#: Layers whose calls never run a Spark job of their own: under the
#: attribution above, jobs go to the top-level span, and the benchmark
#: never calls these layers at top level during a timed pass.
NO_JOB_LAYERS = ("session", "parquet_io", "query_parser")
TIME_METRICS = ("calls", "wall_s", "self_s", "driver_s")
JOB_METRICS = ("jobs", "tasks", "failed_tasks", "shuffle_mb", "spill_mb", "gc_s")
EXTRA_METRICS = (
    "filter.rows_out_per_row_read",
    "parquet_io.bytes_out_per_byte_in",
    "traced.wall_s",
    "traced.overhead_s",
)


_UNITS = {"calls": "count", "jobs": "count", "tasks": "count", "failed_tasks": "count",
          "shuffle_mb": "MB", "spill_mb": "MB"}


def metric_unit(name: str) -> str:
    metric = name.split(".", 1)[1]
    return _UNITS.get(metric, "s" if metric.endswith("_s") else "ratio")


def metric_names() -> list[str]:
    names = []
    for layer in LAYERS:
        names += [f"{layer}.{m}" for m in TIME_METRICS]
        if layer not in NO_JOB_LAYERS:
            names += [f"{layer}.{m}" for m in JOB_METRICS]
    return names + list(EXTRA_METRICS)


class Span:
    __slots__ = ("layer", "start", "end", "parent", "top", "group", "children", "notes")

    def __init__(self, layer, start, parent, top, group):
        self.layer, self.start, self.end = layer, start, None
        self.parent, self.top, self.group = parent, top, group
        self.children = []
        self.notes = {}


def _subtract(intervals, cuts):
    """``intervals`` minus the union of ``cuts`` (both lists of (a, b))."""
    out = []
    for a, b in intervals:
        pieces = [(a, b)]
        for c, d in cuts:
            nxt = []
            for x, y in pieces:
                if d <= x or c >= y:
                    nxt.append((x, y))
                    continue
                if c > x:
                    nxt.append((x, c))
                if d < y:
                    nxt.append((d, y))
            pieces = nxt
        out += pieces
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


class Tracer:
    def __init__(self, spark_getter):
        # the SparkContext changes when set-up restarts the session
        self._spark = spark_getter
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.overhead_s = 0.0

    # ------------------------------------------------------------ wrapping
    def _wrap(self, layer, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            stack = tracer._stack
            if stack and stack[-1].layer == layer:
                return fn(*args, **kwargs)
            span = tracer._open(layer)
            tracer.overhead_s += time.perf_counter() - t0
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                tracer._close(span)
                tracer.overhead_s += time.perf_counter() - t1

        return traced

    def install(self) -> None:
        """Wrap every layer's public functions and its classes' methods,
        then rebind every alias the package imported. The wrapping lasts
        for the life of the process."""
        replace = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if getattr(obj, "__module__", None) != modname:
                    continue
                if inspect.isclass(obj):  # private ones too: the lazy accessors
                    self._wrap_class(layer, obj)
                elif inspect.isfunction(obj) and not name.startswith("_"):
                    replace[obj] = self._wrap(layer, obj)
                    setattr(mod, name, replace[obj])
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("parq_tools_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                try:
                    target = replace.get(obj)
                except TypeError:  # unhashable module attribute
                    continue
                if target is not None:
                    setattr(mod, name, target)

    def _wrap_class(self, layer, cls) -> None:
        for name, attr in list(vars(cls).items()):
            public = not name.startswith("_") or name in ("__init__", "__getitem__", "__setitem__", "__len__")
            if not public:
                continue
            if isinstance(attr, property):
                setattr(cls, name, property(
                    self._wrap(layer, attr.fget) if attr.fget else None,
                    attr.fset, attr.fdel, attr.__doc__,
                ))
            elif inspect.isfunction(attr):
                setattr(cls, name, self._wrap(layer, attr))

    # --------------------------------------------------------------- spans
    def _open(self, layer) -> Span:
        parent = self._stack[-1] if self._stack else None
        group = None
        if parent is None and layer not in NO_JOB_LAYERS:
            group = f"perfbench-{self._next}"
            self._next += 1
            self._spark().sparkContext.setJobGroup(group, layer)
        span = Span(layer, time.time(), parent, parent.top if parent else None, group)
        if parent is None:
            span.top = span
        else:
            parent.children.append(span)
        self._stack.append(span)
        self.spans.append(span)
        return span

    def _close(self, span) -> None:
        span.end = time.time()
        self._stack.pop()
        if span.group is not None:
            self._spark().sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def call(self, layer, fn):
        """Run ``fn`` as one top-level call into ``layer`` (it includes
        whatever action materializes the call's result)."""
        if self._stack:
            raise RuntimeError("tracer.call must be top level")
        return self._wrap(layer, fn)()

    def note(self, key, value) -> None:
        """Add ``value`` to a counter of the innermost open span."""
        if self._stack:
            span = self._stack[-1]
            span.notes[key] = span.notes.get(key, 0) + value

    # ------------------------------------------------------------- summary
    def _group_stats(self, group):
        """Job intervals and counters of one job group, from the status store."""
        sc = self._spark().sparkContext
        store = sc._jsc.sc().statusStore()
        intervals, seen = [], set()
        c = dict.fromkeys(("jobs", "tasks", "failed_tasks", "shuffle", "spill", "gc", "input_records"), 0)
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(job_id)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                c["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["shuffle"] += st.shuffleWriteBytes()
                c["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c["gc"] += st.jvmGcTime()
                c["input_records"] += st.inputRecords()
        return intervals, c

    def summary(self, spans, per: float) -> dict:
        """Per-layer metrics over ``spans``, divided by ``per`` (passes)."""
        sc = self._spark().sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        acc = defaultdict(float)
        job_cov = {}
        rows_read = 0
        for span in spans:
            if span.parent is None and span.group is not None:
                intervals, c = self._group_stats(span.group)
                job_cov[id(span)] = intervals
                for k in JOB_METRICS:
                    src = {"shuffle_mb": "shuffle", "spill_mb": "spill", "gc_s": "gc"}.get(k, k)
                    scale = {"shuffle_mb": 1e-6, "spill_mb": 1e-6, "gc_s": 1e-3}.get(k, 1)
                    acc[(span.layer, k)] += c[src] * scale
                if span.layer == "filter":
                    rows_read += c["input_records"]
        rows_out = 0
        for span in spans:
            jobs = job_cov.get(id(span.top), [])
            own = [(span.start, span.end)]
            kids = [(k.start, k.end) for k in span.children]
            if span.parent is None:
                # children's job-covered time comes back to the top span
                self_iv = _subtract(own, _subtract(kids, jobs))
            else:
                self_iv = _subtract(_subtract(own, kids), jobs)
            acc[(span.layer, "calls")] += 1
            acc[(span.layer, "wall_s")] += span.end - span.start
            acc[(span.layer, "self_s")] += _length(self_iv)
            acc[(span.layer, "driver_s")] += _length(_subtract(self_iv, jobs))
            rows_out += span.notes.get("rows_out", 0) if span.layer == "filter" else 0
        out = {}
        for name in metric_names():
            layer, metric = name.split(".", 1)
            if metric in TIME_METRICS + JOB_METRICS:
                out[name] = acc[(layer, metric)] / per
        out["filter.rows_out_per_row_read"] = rows_out / rows_read if rows_read else 0.0
        return out
