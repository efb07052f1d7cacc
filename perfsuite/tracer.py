"""Spans around the engine's public functions, and the per-layer readout.

:func:`instrument` replaces selected engine functions, in every loaded
engine module that holds them, with wrappers that open a :class:`Span`.
Each span runs under its own Spark job group. After a pass, the pass's
jobs and stages are read back from the status store (it is kept with
``spark.ui.enabled=false``) and each job is charged to the innermost span
whose job group it ran under, or, for jobs whose group the engine set
itself, to the innermost span open when the job was submitted.
"""

from __future__ import annotations

import copy
import functools
import inspect
import sys
import time
from dataclasses import dataclass, field

ENGINE = "sentiment_analysis_bigdata_spark"
MIB = 2**20


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)
    jobs: list[int] = field(default_factory=list)
    leftover: tuple[int, float] = (0, 0.0)  # persisted RDDs, MiB: after - before

    @property
    def group(self) -> str:
        return f"trace-{self.sid}"

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


class Tracer:
    """A stack of open spans for one thread, with Spark job groups. While
    ``enabled`` is false, wrapped calls run without spans."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = True
        self.stack: list[Span] = []
        self._next = 0

    def open(self, name: str, layer: str) -> Span:
        parent = self.stack[-1] if self.stack else None
        self._next += 1
        span = Span(self._next, name, layer, parent)
        if parent is not None:
            parent.children.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span.group, name, interruptOnCancel=False)
        span.start = time.time()
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        popped = self.stack.pop()
        assert popped is span, "spans must nest"
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(top.group, top.name, interruptOnCancel=False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self.open(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)


# layer -> (module, function names); None wraps every public function the
# module defines. The names are the engine's public entry points for that
# layer.
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "apps": (f"{ENGINE}.apps.workflow", ("preprocess", "train_model", "compare_models")),
    "apps.charts": (f"{ENGINE}.apps.charts", None),
    "sources": (f"{ENGINE}.sources.catalog", ("read_csv", "write_csv", "load_table")),
    "operators.ml": (f"{ENGINE}.operators.ml", ("train_and_evaluate", "save_model")),
    "operators.evaluation": (f"{ENGINE}.operators.evaluation", None),
    "operators.graph": (f"{ENGINE}.operators.graph", None),
    "operators.tokenizer_train": (f"{ENGINE}.operators.tokenizer_train", None),
    "operators.clustering": (f"{ENGINE}.operators.clustering", None),
    "operators.dedup": (f"{ENGINE}.operators.dedup", None),
    "plans.barrier": (f"{ENGINE}.plans.barrier", ("barrier_eager", "barrier_lazy")),
}


def _targets(module, names):
    if names is None:
        names = [
            n
            for n, f in vars(module).items()
            if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__
        ]
    return {n: getattr(module, n) for n in names}


class _Traced:
    """A span-opening stand-in for an engine function. It pickles as the
    function it wraps, so kernels shipped to Python workers that reference
    it by global name get the plain function there."""

    def __init__(self, tracer: Tracer, fn, layer: str):
        functools.update_wrapper(self, fn)
        self.tracer, self.fn, self.layer = tracer, fn, layer

    def __call__(self, *args, **kwargs):
        name = self.fn.__name__
        if name == "train_model":  # one span name per model
            name = f"train_model.{kwargs.get('model', args[2] if len(args) > 2 else '')}"
        return self.tracer.call(name, self.layer, self.fn, *args, **kwargs)

    def __reduce__(self):
        return (copy.copy, (self.fn,))


def instrument(tracer: Tracer):
    """Wrap the :data:`LAYERS` functions in spans; returns an undo function."""
    import importlib

    from pyspark.ml import Pipeline

    wrappers = {}
    for layer, (modname, names) in LAYERS.items():
        module = importlib.import_module(modname)
        for fn in _targets(module, names).values():
            wrappers[fn] = _Traced(tracer, fn, layer)
    replaced = []
    for modname, module in list(sys.modules.items()):
        if not modname.startswith(ENGINE) or module is None:
            continue
        for attr, value in list(vars(module).items()):
            if inspect.isfunction(value) and value in wrappers:
                setattr(module, attr, wrappers[value])
                replaced.append((module, attr, value))

    # MLlib fits are reached through the Pipeline that operators.ml builds
    fit = Pipeline.fit

    @functools.wraps(fit)
    def traced_fit(self, *args, **kwargs):
        return tracer.call("fit", "operators.ml", fit, self, *args, **kwargs)

    Pipeline.fit = traced_fit

    def undo():
        for module, attr, value in replaced:
            setattr(module, attr, value)
        del Pipeline.fit  # back to the inherited Estimator.fit

    return undo


# --------------------------------------------------------------------------
# status-store readout
# --------------------------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def last_job_id(sc) -> int:
    jobs = sc._jsc.sc().statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def read_jobs(sc, after_job: int) -> list[dict]:
    """Jobs with id > ``after_job``, with their stages' task metrics."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)  # newest first
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid <= after_job:
            break
        sub, comp = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = j.stageIds()
        stages = []
        for k in range(sids.length()):
            sd = store.lastStageAttempt(sids.apply(k))
            status = str(sd.status())
            if status == "SKIPPED":
                stages.append({"skipped": True})
                continue
            stages.append(
                {
                    "skipped": False,
                    "tasks": sd.numTasks(),
                    "run_ms": sd.executorRunTime(),
                    "cpu_ns": sd.executorCpuTime(),
                    "gc_ms": sd.jvmGcTime(),
                    "in_b": sd.inputBytes(),
                    "out_b": sd.outputBytes(),
                    "shr_b": sd.shuffleReadBytes(),
                    "shw_b": sd.shuffleWriteBytes(),
                    "spill_b": sd.diskBytesSpilled(),
                }
            )
        out.append(
            {
                "id": jid,
                "group": _opt(j.jobGroup()),
                "submit": sub.getTime() / 1000 if sub is not None else None,
                "complete": comp.getTime() / 1000 if comp is not None else None,
                "stages": stages,
            }
        )
    return sorted(out, key=lambda j: j["id"])


def attribute(root: Span, jobs: list[dict]) -> None:
    """Charge each job to a span: by its job group, else by submit time."""
    spans = list(root.walk())
    by_group = {s.group: s for s in spans}
    for job in jobs:
        span = by_group.get(job["group"])
        if span is None and job["submit"] is not None:
            t = job["submit"]
            span = root
            while True:
                inner = [c for c in span.children if c.start <= t <= c.end]
                if not inner:
                    break
                span = inner[0]
        (span or root).jobs.append(job["id"])


def busy_time(jobs: list[dict], start: float, end: float) -> float:
    """Wall time within [start, end] during which at least one job ran."""
    spans = sorted(
        (max(j["submit"], start), min(j["complete"] or end, end))
        for j in jobs
        if j["submit"] is not None
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy
