"""The measured process: one fresh Spark session, one workload.

Usage: ``python3 perfsuite/child.py SPEC.json RESULT.json``. ``run.py``
writes the spec (inputs, expected outputs, pass budget) and reads the
result. Everything timed here calls the engine's public functions from
outside the engine.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import procstat
import tracer as tr
import tweets
from oracles import comparable

# One classifier per pass keeps a run inside the benchmark's time budget;
# logistic regression is the paper's headline model.
MODELS = ("lr",)
CHARTS = (
    "sentiment_distribution.png",
    "text_length_histogram.png",
    "text_length_boxplot.png",
    "model_comparison.png",
    *(f"{kind}_{m}.png" for m in MODELS for kind in ("confusion_matrix", "roc_curve")),
)


class SentimentPipeline:
    """preprocess -> train -> compare, with charts, at the paper's settings."""

    def __init__(self, spark, spec):
        self.spark, self.spec = spark, spec
        self.out = os.path.join(spec["work"], "pipeline")
        self.first_metrics = None

    def before_pass(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(os.path.join(self.out, "charts"))
        self.stats, self.metrics, self.merged = None, {}, None

    def steps(self):
        from sentiment_analysis_bigdata_spark.apps import workflow

        o = self.out
        charts = os.path.join(o, "charts")

        def preprocess():
            self.stats = workflow.preprocess(
                self.spark, self.spec["tweets_csv"], f"{o}/clean",
                stats_path=f"{o}/stats.json", charts_dir=charts,
            )

        def train(model):
            def step():
                self.metrics[model] = workflow.train_model(
                    self.spark, f"{o}/clean", model, f"{o}/models", charts_dir=charts,
                )
            return step

        def compare():
            self.merged = workflow.compare_models(
                f"{o}/models", f"{o}/comparison.json", charts_dir=charts
            )

        return [("preprocess", preprocess)] + [
            (f"train_{m}", train(m)) for m in MODELS
        ] + [("compare", compare)]

    def checks(self):
        exp, o = self.spec["expected"], self.out
        yield "clean_rows", self.stats is not None and self.stats["rows_clean"] == exp["clean_rows"]
        yield "label_counts", self.stats is not None and self.stats["label_distribution"] == exp["labels"]
        yield "clean_digest", os.path.isdir(f"{o}/clean") and tweets.clean_digest(f"{o}/clean") == (
            exp["clean_rows"], exp["clean_digest"]
        )
        for m in MODELS:
            met = self.metrics.get(m)
            yield f"confusion_sum_{m}", met is not None and sum(met["confusion_matrix"].values()) == met["test_rows"]
            path = f"{o}/models/{m}_metrics.json"
            yield f"metrics_json_{m}", os.path.exists(path) and _load(path) == met
            yield f"model_saved_{m}", os.path.isdir(f"{o}/models/model_{m}/stages")
        yield "comparison", self.merged is not None and sorted(self.merged) == sorted(MODELS)
        yield "charts", all(_is_png(os.path.join(o, "charts", c)) for c in CHARTS)
        if self.first_metrics is None:
            self.first_metrics = dict(self.metrics)
        else:
            yield "metrics_stable", self.metrics == self.first_metrics


class RegistryQueries:
    """Registry queries in a fixed order, each collected to the driver."""

    def __init__(self, spark, spec):
        from sentiment_analysis_bigdata_spark import workloads

        self.spark, self.spec = spark, spec
        self.fns = workloads.all_queries()
        self.outputs = {}

    def before_pass(self) -> None:
        self.outputs = {}

    def steps(self):
        def step(name):
            def run():
                df = self.fns[name](self.spark, self.spec["tables_dir"])
                self.outputs[name] = (df.columns, df.collect())
            return run

        return [(name, step(name)) for name in self.spec["queries"]]

    def checks(self):
        for name, expected in self.spec["expected"].items():
            got = self.outputs.get(name)
            yield name, got is not None and comparable([tuple(r) for r in got[1]], got[0]) == expected


def _load(path):
    with open(path) as f:
        return json.load(f)


def _is_png(path):
    try:
        with open(path, "rb") as f:
            return f.read(8) == b"\x89PNG\r\n\x1a\n"
    except OSError:
        return False


class Runner:
    """Runs passes of a workload and tallies steps, checks and failures."""

    def __init__(self):
        self.pid = os.getpid()
        self.steps_attempted = 0
        self.steps_failed = 0
        self.checks: dict[str, list[int]] = {}  # name -> [passed, run]
        self.step_times: list[dict[str, float]] = []
        self.failures: list[str] = []

    def tree_cpu(self):
        snap = procstat.snapshot()
        tree = procstat.subtree(snap, self.pid)
        workers = [p for r in procstat.pyworker_roots(snap, tree) for p in procstat.subtree(snap, r)]
        return (
            procstat.cpu_s(snap, tree),
            procstat.cpu_s(snap, [self.pid], own_only=True),
            procstat.cpu_s(snap, workers),
        )

    def one_pass(self, workload, tracer=None):
        """Run every step once; returns (wall s, (tree, driver Python,
        Python workers) CPU s, root span). With a tracer, each step is a
        span that records the persisted RDDs and MiB it left behind."""
        workload.before_pass()
        steps = workload.steps()
        root = tracer.open("pass", "pass") if tracer else None
        cpu0 = self.tree_cpu()
        t0 = time.perf_counter()
        step_s = {}
        for name, fn in steps:
            self.steps_attempted += 1
            before = persisted(tracer.sc) if tracer else None
            span = tracer.open(name, "workloads") if tracer else None
            s0 = time.perf_counter()
            try:
                fn()
            except Exception:
                self.steps_failed += 1
                self.failures.append(f"step {name}: {traceback.format_exc(limit=3)}")
            finally:
                step_s[name] = time.perf_counter() - s0
                if span is not None:
                    tracer.close(span)
                    span.leftover = tuple(a - b for a, b in zip(persisted(tracer.sc), before))
        wall = time.perf_counter() - t0
        self.step_times.append(step_s)
        cpu1 = self.tree_cpu()
        if root is not None:
            tracer.close(root)
        for name, ok in workload.checks():
            tally = self.checks.setdefault(name, [0, 0])
            tally[0] += bool(ok)
            tally[1] += 1
            if not ok:
                self.failures.append(f"check {name} failed")
        return wall, tuple(b - a for a, b in zip(cpu0, cpu1)), root


def persisted(sc):
    """(persisted RDDs, MiB they hold in memory and on disk)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    mib = sum(i.memSize() + i.diskSize() for i in infos) / tr.MIB
    return sc._jsc.getPersistentRDDs().size(), mib


def layer_metrics(root, jobs, wall, cpu, workers, spec):
    """Per-layer readout of one traced pass."""
    spans = list(root.walk())
    tr.attribute(root, jobs)

    def sub_jobs(span):
        return [jid for s in span.walk() for jid in s.jobs]

    def named(layer, name):
        return [s for s in spans if s.layer == layer and s.name == name]

    def self_time(layer):
        return sum(s.self_time for s in spans if s.layer == layer)

    def own_jobs(layer):
        return sum(len(s.jobs) for s in spans if s.layer == layer)

    def outer(layer):
        """Spans of ``layer`` not nested in another of the same layer."""
        return [s for s in spans if s.layer == layer and (s.parent is None or s.parent.layer != layer)]

    def seconds(ss):
        return sum(s.duration for s in ss)

    stages = [st for j in jobs for st in j["stages"]]
    run = [st for st in stages if not st["skipped"]]

    def stage_sum(key, scale=1.0):
        return sum(st[key] for st in run) * scale

    m = {}
    reads = [s for s in outer("sources") if s.name != "write_csv"]
    m["sources.read_s"] = seconds(reads)
    m["sources.write_s"] = seconds(named("sources", "write_csv"))
    m["sources.bytes_in_mb"] = stage_sum("in_b", 1 / tr.MIB)
    m["sources.bytes_out_mb"] = stage_sum("out_b", 1 / tr.MIB)
    m["apps.preprocess_s"] = seconds(named("apps", "preprocess"))
    for mdl in MODELS:
        m[f"apps.train_s.{mdl}"] = seconds(named("apps", f"train_model.{mdl}"))
    m["apps.compare_s"] = seconds(named("apps", "compare_models"))
    m["apps.charts_s"] = seconds(outer("apps.charts"))
    fits = named("operators.ml", "fit")
    m["operators.ml.fit_s"] = seconds(fits)
    m["operators.ml.fit_jobs"] = sum(len(sub_jobs(s)) for s in fits)
    m["operators.ml.save_s"] = seconds(named("operators.ml", "save_model"))
    m["operators.evaluation_s"] = self_time("operators.evaluation")
    m["operators.evaluation.jobs"] = own_jobs("operators.evaluation")
    for mod in ("graph", "tokenizer_train", "clustering", "dedup"):
        m[f"operators.{mod}_s"] = self_time(f"operators.{mod}")
        m[f"operators.{mod}.jobs"] = own_jobs(f"operators.{mod}")
    steps = [s for s in root.children if s.layer == "workloads"]
    for q in spec["all_queries"]:
        m[f"workloads.{q}_s"] = seconds(s for s in steps if s.name == q)
    barriers = [s for s in spans if s.layer == "plans.barrier"]
    m["plans.barrier_s"] = seconds(outer("plans.barrier"))
    m["plans.barrier_calls"] = len(barriers)
    m["plans.leftover_rdds"] = sum(s.leftover[0] for s in steps)
    m["plans.leftover_mb"] = sum(s.leftover[1] for s in steps)
    m["driver.jobs"] = len(jobs)
    m["driver.stages"] = len(run)
    m["driver.skipped_stages"] = len(stages) - len(run)
    m["driver.idle_s"] = root.duration - tr.busy_time(jobs, root.start, root.end)
    m["driver.py_cpu_s"] = cpu[1]
    m["executor.cpu_s"] = stage_sum("cpu_ns", 1e-9)
    m["executor.run_s"] = stage_sum("run_ms", 1e-3)
    m["executor.gc_s"] = stage_sum("gc_ms", 1e-3)
    m["executor.cpu_ratio"] = m["executor.cpu_s"] / m["executor.run_s"] if m["executor.run_s"] else 0.0
    m["executor.shuffle_read_mb"] = stage_sum("shr_b", 1 / tr.MIB)
    m["executor.shuffle_write_mb"] = stage_sum("shw_b", 1 / tr.MIB)
    m["executor.spill_mb"] = stage_sum("spill_b", 1 / tr.MIB)
    m["executor.tasks"] = stage_sum("tasks")
    m["pyworker.cpu_s"] = cpu[2]
    m["pyworker.spawned"] = workers[1]
    m["pyworker.peak_rss_mb"] = workers[0]
    # outermost engine-layer spans: opened straight from a step, so time a
    # step spends outside every wrapped function (e.g. the collect of a
    # lazily built plan) is what the spans miss
    m["trace.coverage"] = seconds(s for s in spans if s.parent is not None and s.parent.layer == "workloads") / wall
    return m


def warm_passes(runner, workload, n):
    walls, cpus = [], []
    for _ in range(n):
        wall, cpu, _ = runner.one_pass(workload)
        walls.append(wall)
        cpus.append(cpu[0])
    return walls, cpus


def main(spec_path: str, result_path: str) -> int:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    runner = Runner()
    sampler = procstat.Sampler(runner.pid).start()

    from pyspark.sql import functions as F

    from sentiment_analysis_bigdata_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfsuite", extra_conf={"spark.ui.showConsoleProgress": "false"})
    t1 = time.perf_counter()
    # the engine's JVM warmup (bench.py): first job, codegen and HOF paths
    spark.range(10).select(
        F.aggregate(F.array(F.col("id")), F.lit(0).cast("bigint"), lambda a, b: a + b)
    ).count()
    t2 = time.perf_counter()
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    kind = SentimentPipeline if spec["workload"] == "sentiment_pipeline" else RegistryQueries
    workload = kind(spark, spec)
    result = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1}
    try:
        result["cold_s"], _, _ = runner.one_pass(workload)
        if spec["trace"]:
            walls, cpus, result["layers"] = traced(runner, workload, sc, sampler, spec)
        else:
            walls, cpus = warm_passes(runner, workload, spec["warm_passes"])
        result.update(warm=walls, cpu=cpus, peak_rss_mb=sampler.peak_mb)
    finally:
        sampler.stop()
        result.update(
            steps_attempted=runner.steps_attempted,
            steps_failed=runner.steps_failed,
            checks=runner.checks,
            step_times=runner.step_times,
            failures=runner.failures,
        )
        with open(result_path, "w") as f:
            json.dump(result, f)
        spark.stop()
    return 0


def traced(runner, workload, sc, sampler, spec):
    """Untraced and traced warm passes in ABBA order (at least one ABBA
    block), so the JIT's warm-up over successive passes does not land on
    one side of the overhead."""
    tracer = tr.Tracer(sc)
    undo = tr.instrument(tracer)
    walls, cpus, traced_walls, per_pass = [], [], [], []
    try:
        for i in range(max(2, spec["warm_passes"])):
            for tracing in (False, True) if i % 2 == 0 else (True, False):
                tracer.enabled = tracing
                if not tracing:
                    wall, cpu, _ = runner.one_pass(workload)
                    walls.append(wall)
                    cpus.append(cpu[0])
                    continue
                last_job = tr.last_job_id(sc)
                sampler.take_workers()
                wall, cpu, root = runner.one_pass(workload, tracer)
                workers = sampler.take_workers()
                jobs = tr.read_jobs(sc, last_job)
                traced_walls.append(wall)
                per_pass.append(layer_metrics(root, jobs, wall, cpu, workers, spec))
    finally:
        undo()
    layers = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
    layers["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
    return walls, cpus, layers


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
