"""Per-layer counters, measured from outside the engine.

Nothing here edits the engine: the tracer wraps the engine's public
functions (``sources.readers.load_table`` and the fixpoint operators of
``operators.graph``) for the life of the benchmark process, and reads
Spark's public status, plan and codegen-metric APIs around each query.
It is only installed for a traced run (``--trace 1``); untraced runs
never import this module.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

GRAPH_OPS = ("connected_components", "coreness", "k_core_summary",
             "degeneracy_core")

# every per-query counter, in report order; a pass total is the sum
# over the pass's queries
KEYS = (
    "sources.load_calls", "sources.load_s",
    "queries.build_s", "queries.build_jobs",
    "operators.graph.calls", "operators.graph.s", "operators.graph.jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "codegen.classes", "codegen.compile_ms",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_s",
    "exec.scan_bytes", "exec.shuffle_bytes",
    "python.boot_ms", "python.total_ms", "python.bytes_sent",
    "sinks.files_written", "sinks.bytes_written",
)

# SQL metric name -> layer key, summed over every node of the plan
_PLAN_METRICS = {
    "filesSize": "exec.scan_bytes",
    "pythonBootTime": "python.boot_ms",
    "pythonTotalTime": "python.total_ms",
    "pythonDataSent": "python.bytes_sent",
}


class Tracer:
    """Collects one counter dict per query execution.

    ``measure`` runs one query (build, then force) and returns the
    forced value with that query's counters. Wrapped engine functions
    add to the counters of the query in flight; outside ``measure`` they
    only pass through."""

    def __init__(self, spark: SparkSession, warehouse: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.warehouse = warehouse
        self._seq = 0
        self._cur: dict[str, float] | None = None
        self._depth: dict[str, int] = {}
        self._install()

    # --------------------------------------------------------- wrappers
    def _install(self) -> None:
        from impractical_impala_spark.operators import graph
        from impractical_impala_spark.sources import readers

        targets = [(readers, "load_table", self._wrap_load)]
        targets += [(graph, op, self._wrap_graph) for op in GRAPH_OPS]
        for mod, attr, wrap in targets:
            orig = getattr(mod, attr)
            new = wrap(orig)
            # replace every module-level reference (``from ..sources
            # import load_table`` binds the function in each importer)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith(
                        "impractical_impala_spark")
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, new)

    def _outermost(self, key: str, fn: Callable, *a, **kw):
        """Run ``fn``; True in the second slot when this is the
        outermost call of ``key`` (nested calls are not counted again)."""
        depth = self._depth.get(key, 0)
        self._depth[key] = depth + 1
        try:
            return fn(*a, **kw), depth == 0
        finally:
            self._depth[key] = depth

    def _wrap_load(self, orig: Callable) -> Callable:
        @functools.wraps(orig)
        def load_table(*a, **kw):
            cur = self._cur
            t0 = time.perf_counter()
            out, outer = self._outermost("load", orig, *a, **kw)
            if cur is not None and outer:
                cur["sources.load_calls"] += 1
                cur["sources.load_s"] += time.perf_counter() - t0
            return out
        return load_table

    def _wrap_graph(self, orig: Callable) -> Callable:
        @functools.wraps(orig)
        def graph_op(*a, **kw):
            cur = self._cur
            if cur is None or self._depth.get("graph", 0):
                return orig(*a, **kw)
            group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"{group}:graph", orig.__name__)
            t0 = time.perf_counter()
            try:
                return self._outermost("graph", orig, *a, **kw)[0]
            finally:
                cur["operators.graph.calls"] += 1
                cur["operators.graph.s"] += time.perf_counter() - t0
                self.sc.setLocalProperty("spark.jobGroup.id", group)
        return graph_op

    # ---------------------------------------------------------- measure
    def measure(self, name: str, build: Callable[[], DataFrame],
                force: Callable[[DataFrame], tuple[object, DataFrame]]
                ) -> tuple[object, dict[str, float]]:
        """Build and force one query under its own job groups; return
        the forced value and the query's counters."""
        self._seq += 1
        tag = f"perfbench-{self._seq}"
        cur = dict.fromkeys(KEYS, 0)
        files0 = self._files()
        cg0 = self._codegen()
        self._cur = cur
        try:
            self.sc.setJobGroup(f"{tag}:build", name)
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"{tag}:exec", name)
            value, executed = force(df)
            t2 = time.perf_counter()
        finally:
            self._cur = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        cur["queries.build_s"] = t1 - t0
        cur["exec.s"] = t2 - t1
        cg1 = self._codegen()
        cur["codegen.classes"] = cg1[0] - cg0[0]
        # Dropwizard histogram: count is exact, the mean comes from its
        # sampling reservoir, so compile_ms is an estimate
        cur["codegen.compile_ms"] = (cg1[0] - cg0[0]) * cg1[1]
        qe = executed._jdf.queryExecution()
        for phase, ms in _phases(qe).items():
            key = f"catalyst.{phase}_ms"
            if key in cur:
                cur[key] = ms
        for metric, value_ in _plan_metrics(qe.executedPlan()).items():
            cur[_PLAN_METRICS[metric]] += value_
        self._jobs(tag, cur)
        written = {p: s for p, s in self._files().items()
                   if files0.get(p) != s}
        cur["sinks.files_written"] = len(written)
        cur["sinks.bytes_written"] = sum(s[0] for s in written.values())
        return value, cur

    def _codegen(self) -> tuple[int, float]:
        h = (self.jvm.org.apache.spark.metrics.source.CodegenMetrics
             .METRIC_COMPILATION_TIME())
        return h.getCount(), h.getSnapshot().getMean()

    def _jobs(self, tag: str, cur: dict[str, float]) -> None:
        """Job, stage, task, CPU and shuffle-byte counts of every job the
        query ran, read from the status store once the listener bus
        drains."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        no_status = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        stages: set[int] = set()
        for suffix in ("build", "build:graph", "exec"):
            ids = tracker.getJobIdsForGroup(f"{tag}:{suffix}")
            cur["exec.jobs"] += len(ids)
            if suffix != "exec":
                cur["queries.build_jobs"] += len(ids)
            if suffix == "build:graph":
                cur["operators.graph.jobs"] += len(ids)
            for j in ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
        for sid in stages:
            attempts = store.stageData(sid, False, no_status, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                cur["exec.stages"] += 1
                cur["exec.tasks"] += sd.numCompleteTasks()
                cur["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                cur["exec.shuffle_bytes"] += sd.shuffleWriteBytes()

    def _files(self) -> dict[str, tuple[int, int]]:
        out = {}
        for root, _, names in os.walk(self.warehouse):
            for n in names:
                p = os.path.join(root, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
        return out


def _phases(qe) -> dict[str, float]:
    """Catalyst phase durations (ms) of one QueryExecution."""
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _plan_metrics(plan) -> dict[str, float]:
    """Sum the SQL metrics named in _PLAN_METRICS over a physical plan,
    descending into adaptive plans, query stages and subqueries."""
    totals = dict.fromkeys(_PLAN_METRICS, 0.0)
    stack = [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(p.plan())
            continue
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() in totals:
                totals[kv._1()] += kv._2().value()
        for seq in (p.children(), p.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return totals


def unit(key: str) -> str:
    if key.endswith("_mb"):
        return "MiB"
    if key.endswith("_ms"):
        return "ms"
    if key.endswith(("_s", ".s")):
        return "s"
    return "bytes" if "bytes" in key else "count"


def summarize(doc: dict, path: str) -> dict[str, dict]:
    """Per-layer metrics of a traced run, as the result line reports
    them; also writes the full per-layer document to ``path``.

    Each counter is the median over traced passes of its pass total.
    Count metrics also get their spread: their range over this run's
    traced passes and whether they repeated exactly."""
    traced = [p for p in doc["timed"] if p["traced"]]
    plain = [p for p in doc["timed"] if not p["traced"]]
    totals = {k: [sum(q[k] for q in p["layers"].values()) for p in traced]
              for k in KEYS}
    metrics = {k: statistics.median(v) for k, v in totals.items()}
    cold = doc["cold_layers"].values()
    metrics.update({
        "session.get_spark_s": doc["session.get_spark_s"],
        "session.first_job_s": doc["session.first_job_s"],
        "registry.import_s": doc["registry.import_s"],
        "codegen.cold_classes": sum(q["codegen.classes"] for q in cold),
        "codegen.cold_compile_ms": sum(q["codegen.compile_ms"] for q in cold),
        "memory.peak_rss_mb": doc["peak_rss_mb"],
        "host.calib_s": doc["calib_start"]["total_s"],
        "host.calib_end_s": doc["calib_end"]["total_s"],
        "trace.overhead_s": (
            statistics.median(p["pass_s"] for p in traced)
            - statistics.median(p["pass_s"] for p in plain)),
    })

    # count stability within this run: a count that differs between
    # the run's traced passes is reported with its range, not as exact
    stability = {}
    for k, v in totals.items():
        if unit(k) in ("s", "ms"):
            continue
        stability[k] = {"min": min(v), "max": max(v),
                        "exact_across_passes": len(set(v)) == 1}
    metrics["counts.varying"] = sum(
        not s["exact_across_passes"] for s in stability.values())

    per_query = {
        name: {k: statistics.median(p["layers"][name][k] for p in traced
                                    if name in p["layers"])
               for k in KEYS}
        for name in doc["order"]}
    with open(path, "w") as f:
        json.dump({"workload": doc["workload"], "seed": doc["seed"],
                   "traced_passes": len(traced),
                   "untraced_passes": len(plain),
                   "metrics": metrics, "count_stability": stability,
                   "setups": doc["setups"],
                   "per_query": per_query,
                   "cold_per_query": doc["cold_layers"],
                   "host_calib": {"start": doc["calib_start"],
                                  "end": doc["calib_end"]}},
                  f, indent=1)
    return {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}
