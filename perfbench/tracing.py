"""Spans around calls into the library's layers, Spark job attribution,
and the arithmetic the report is built from.

Spans are recorded only by the benchmark's own files: wrappers replace
the library's public functions (module attributes, so lazy ``from ...
import`` inside function bodies picks them up too) and the worker opens
spans around each entry execution.  Spark jobs come from the status
store after a pass and are attributed to the innermost span that was
open when the job was submitted; the driver is single-threaded, so that
span is the one that launched it.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import math
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layer name -> (module, public names to wrap; None = the module's
# __all__).  ``Class.method`` wraps a method: ``frame_apply`` is a class
# whose ``lower`` builds the pandas UDF when ``mutate`` lowers the frame.
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "sources": ("tidier_spark.sources", None),
    "mutate": ("tidier_spark.mutate", ("mutate", "mutate_")),
    "pandas_tier": (
        "tidier_spark.pandas_tier",
        ("frame_apply.lower", "grouped_apply", "grouped_apply_arrow"),
    ),
    "streaming": ("tidier_spark.streaming", None),
    "operators.dedup": ("tidier_spark.operators.dedup", None),
    "operators.graph": ("tidier_spark.operators.graph", None),
    "operators.similarity": ("tidier_spark.operators.similarity", None),
    "operators.bpe": ("tidier_spark.operators.bpe", None),
    "operators.text": ("tidier_spark.operators.text", None),
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    layer: str
    entry: str
    start: float  # epoch seconds, comparable with the JVM's clock
    end: float = math.nan


@dataclass
class Tracer:
    """Span recorder.  ``active`` is False between traced passes, so the
    wrappers then cost one attribute test per call."""

    active: bool = False
    entry: str = ""
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), parent, name, layer, self.entry, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()


def _wrap(fn, layer: str, tracer: Tracer):
    # functools.wraps keeps __module__/__qualname__, and the wrapper is
    # what the module attribute now holds, so cloudpickle still pickles a
    # function shipped to executors by reference (executors run the
    # unwrapped original) instead of dragging the tracer along.
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.active:
            return fn(*args, **kwargs)
        with tracer.span(fn.__name__, layer):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer) -> int:
    """Wrap every layer's public functions; return how many were wrapped.

    Call before importing ``__spark_entry__``, which binds ``mutate`` and
    ``read_table`` at import time.  Library modules that imported a
    wrapped function by name are rebound too.
    """
    originals: dict[int, object] = {}
    for layer, (modname, names) in LAYERS.items():
        mod = importlib.import_module(modname)
        for name in names if names is not None else mod.__all__:
            owner, _, attr = name.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            fn = getattr(holder, attr)
            if not inspect.isfunction(fn) or id(fn) in originals:
                continue
            originals[id(fn)] = _wrap(fn, layer, tracer)
            if owner:
                setattr(holder, attr, originals[id(fn)])
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == "tidier_spark" or modname.startswith("tidier_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            wrapper = originals.get(id(val))
            if wrapper is not None:
                setattr(mod, attr, wrapper)
    return len(originals)


# --- Spark jobs from the status store -------------------------------------


@dataclass
class Job:
    id: int
    start: float
    end: float
    stages: list[dict]


_STAGE_FIELDS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_rows": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "mem_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


def wait_for_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every queued event,
    so the status store (and the Python streaming listener) is current."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def last_job_id(sc) -> int:
    """Highest job id in the status store, -1 before the first job."""
    seq = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return seq.apply(0).jobId() if seq.size() else -1


def jobs_after(sc, last_job_id: int) -> list[Job]:
    """Finished jobs with id > ``last_job_id``, with per-stage metrics.

    Uses the ``AppStatusStore`` (works with the UI off).  Skipped stages,
    whose output another job already produced, are left out.
    """
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    seq = store.jobsList(None)  # newest first
    jobs, seen = [], set()
    for i in range(seq.size()):
        jd = seq.apply(i)
        if jd.jobId() <= last_job_id:
            break
        if jd.completionTime().isEmpty():
            continue
        stages = []
        ids = jd.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.stageAttempt(
                    sid, 0, False, jvm.java.util.ArrayList(), False, no_quantiles
                )._1()
            except Exception:  # py4j error: stage not retained in the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            stages.append({k2: getattr(sd, m)() for k2, m in _STAGE_FIELDS.items()})
        jobs.append(Job(
            jd.jobId(),
            jd.submissionTime().get().getTime() / 1000.0,
            jd.completionTime().get().getTime() / 1000.0,
            stages,
        ))
    jobs.sort(key=lambda j: j.id)
    return jobs


# --- arithmetic -----------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        return math.nan
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attach_jobs(spans: list[Span], jobs: list[Job]) -> list[Span]:
    """Add one ``job`` span per job under the innermost span open at its
    submission; jobs submitted outside every span get no parent."""
    out = list(spans)
    for job in jobs:
        owner = None
        for sp in spans:  # spans are in start order; nested ones come later
            if sp.start <= job.start <= sp.end:
                owner = sp
        out.append(Span(
            len(out), owner.id if owner else None, f"job {job.id}", "job",
            owner.entry if owner else "", job.start, job.end,
        ))
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        clipped = [
            (max(s, sp.start), min(e, sp.end))
            for s, e in kids.get(sp.id, ())
            if min(e, sp.end) > max(s, sp.start)
        ]
        out[sp.id] = (sp.end - sp.start) - union_length(clipped)
    return out


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    by_layer: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        layer = spans[sid].layer
        by_layer[layer] = by_layer.get(layer, 0.0) + t
    return by_layer


def ancestors(spans: list[Span], sp: Span):
    """``sp`` and every span above it."""
    while sp is not None:
        yield sp
        sp = spans[sp.parent] if sp.parent is not None else None


def outermost_calls(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` not nested inside another span of that layer
    (a library function calling another public one counts once)."""
    return [
        sp for sp in spans
        if sp.layer == layer
        and not any(a.layer == layer for a in list(ancestors(spans, sp))[1:])
    ]


OPERATOR_LAYERS = [layer for layer in LAYERS if layer.startswith("operators.")]


def layer_metrics(spans: list[Span], jobs: list[Job], n: int, cores: int) -> dict[str, float]:
    """Per-pass layer metrics from ``n`` traced passes.

    ``spans`` must already hold the job spans from ``attach_jobs``; a
    layer's ``.jobs`` counts jobs launched anywhere inside its calls.
    """
    job_spans = [sp for sp in spans if sp.layer == "job"]
    job_layers = [{a.layer for a in ancestors(spans, sp)} for sp in job_spans]
    m: dict[str, float] = {}
    for layer in ["sources", "mutate", "pandas_tier", "streaming", *OPERATOR_LAYERS]:
        calls = outermost_calls(spans, layer)
        m[f"{layer}.calls"] = len(calls) / n
        m[f"{layer}.s"] = sum(sp.end - sp.start for sp in calls) / n
        if layer == "mutate" or layer.startswith("operators."):
            m[f"{layer}.jobs"] = sum(layer in ls for ls in job_layers) / n

    builds = [sp for sp in spans if sp.layer == "build"]
    build_jobs: dict[int, list[tuple[float, float]]] = {}
    for sp in job_spans:
        for a in ancestors(spans, sp):
            if a.layer == "build":
                build_jobs.setdefault(a.id, []).append((sp.start, sp.end))
    m["entry.build_s"] = sum(b.end - b.start for b in builds) / n
    m["entry.build_jobs"] = sum(len(v) for v in build_jobs.values()) / n
    m["entry.build_self_s"] = sum(
        (b.end - b.start)
        - union_length([(max(s, b.start), min(e, b.end)) for s, e in build_jobs.get(b.id, ())])
        for b in builds
    ) / n

    stages = [st for job in jobs for st in job.stages]
    tot = {k: sum(st[k] for st in stages) for k in _STAGE_FIELDS}
    exec_s = union_length([(j.start, j.end) for j in jobs])
    m["sources.input_bytes"] = tot["input_bytes"] / n
    m["sources.input_rows"] = tot["input_rows"] / n
    m["exec.s"] = exec_s / n
    m["exec.jobs"] = len(jobs) / n
    m["exec.stages"] = len(stages) / n
    m["exec.tasks"] = tot["tasks"] / n
    m["exec.run_ms"] = tot["run_ms"] / n
    m["exec.cpu_ms"] = tot["cpu_ns"] / 1e6 / n
    m["exec.gc_ms"] = tot["gc_ms"] / n
    m["exec.busy_frac"] = tot["run_ms"] / (exec_s * 1000.0 * cores) if exec_s else 0.0
    m["exec.shuffle_read_bytes"] = tot["shuffle_read_bytes"] / n
    m["exec.shuffle_write_bytes"] = tot["shuffle_write_bytes"] / n
    m["exec.spill_bytes"] = (tot["mem_spill_bytes"] + tot["disk_spill_bytes"]) / n
    m["exec.failed_tasks"] = tot["failed_tasks"] / n
    return m
