"""One benchmark run inside a fresh Python + Spark process.

Started by ``perfbench/run.py``, never by hand: it expects the work
directory, warehouse and result path that ``run.py`` prepares. Writes
one JSON document to ``--out``.

The run, in order:

0. write the input tables with ``datagen.py`` (the repository's fixture
   tables, byte for byte; ``--seed`` only permutes the query order);
1. set up, twice: a fresh JVM and SparkSession, then a fresh import of
   the engine and its query registry; the first is torn down again, the
   second serves the run;
2. canary: a fixed ``spark.range`` aggregate plus a fixed Python loop;
3. cold pass: every query once in the fresh session, each forced with
   ``toPandas`` and then compared with its DuckDB oracle (untimed);
4. warm passes for ``--seconds``, at least the workload's
   ``min_passes`` (a traced run times untraced and traced passes in
   ABBA blocks, at least one block);
5. the canary again, then memory.

Warm passes force each query with the xor of a 64-bit hash of every
output column, and every warm pass of a run must give each query the
same checksum.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import sys
import time
import traceback


# each set-up starts a JVM (~7 s); two fit the benchmark's time budget
SETUPS = 2


def set_up(app: str):
    """One set-up of the engine: start a JVM and SparkSession, then
    import the query registry, both from scratch (the engine's modules
    are dropped first, so their import-time work counts every time).
    Returns the session, the registry and the two times."""
    for name in [m for m in sys.modules
                 if m.split(".")[0] == "impractical_impala_spark"]:
        del sys.modules[name]
    t0 = time.perf_counter()
    from impractical_impala_spark.session import get_spark

    spark = get_spark(app)
    t1 = time.perf_counter()
    from impractical_impala_spark.registry import all_queries

    queries = all_queries()
    t2 = time.perf_counter()
    return spark, queries, t1 - t0, t2 - t1


def tear_down(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited
    (it exits when its stdin closes), so the next set-up starts alone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def checksum(df):
    """Force ``df`` and fold every output column into one 64-bit value
    (order-independent, so partitioning does not change it)."""
    from pyspark.sql import functions as F

    forced = df.select(F.xxhash64(*df.columns).alias("h")) \
        .agg(F.expr("bit_xor(h)"))
    return forced.collect()[0][0], forced


def to_pandas(df):
    return df.toPandas(), df


def calibrate(spark) -> dict[str, float]:
    """Host canary: fixed work whose time only the host can change."""
    t0 = time.perf_counter()
    spark.range(0, 3_000_000, numPartitions=2) \
        .selectExpr("sum(id % 7) AS s").collect()
    t1 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    t2 = time.perf_counter()
    return {"spark_s": t1 - t0, "python_s": t2 - t1, "total_s": t2 - t0}


def memory_mb() -> dict[str, float]:
    """Resident memory of this process and of its JVM child, from /proc:
    peak (VmHWM) and current (VmRSS), in MiB."""
    def status(pid) -> dict[str, float]:
        out = {}
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key, _, rest = line.partition(":")
                if key in ("VmHWM", "VmRSS"):
                    out[key] = int(rest.split()[0]) / 1024.0
        return out

    py = status("self")
    jvm = {"VmHWM": 0.0, "VmRSS": 0.0}
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if fields[1] == me and comm == "java":
            jvm = status(pid)
    return {"python_hwm_mb": py["VmHWM"], "python_rss_mb": py["VmRSS"],
            "jvm_hwm_mb": jvm["VmHWM"], "jvm_rss_mb": jvm["VmRSS"]}


class Run:
    def __init__(self, spark, queries, order, sf_dir, tracer) -> None:
        self.spark = spark
        self.queries = queries
        self.order = order
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.checksums: dict[str, object] = {}

    def run_pass(self, force, traced=False):
        """One pass over the query list. Returns (pass seconds, per-query
        seconds, per-query results, per-query counters if traced)."""
        secs, results, layers = {}, {}, {}
        t_pass = time.perf_counter()
        for name in self.order:
            q = self.queries[name]
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if traced:
                    results[name], layers[name] = self.tracer.measure(
                        name, lambda: q.build(self.spark, self.sf_dir), force)
                else:
                    results[name] = force(q.build(self.spark, self.sf_dir))[0]
            except Exception:  # noqa: BLE001 — counted, reported, run goes on
                self.failures.append(
                    f"{name}: {traceback.format_exc(limit=3)[-600:]}")
            secs[name] = time.perf_counter() - t0
        total = time.perf_counter() - t_pass
        # outside the pass time: drop cached fragments and collect the
        # heap so each pass starts from the same state
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        return total, secs, results, layers

    def checksum_pass(self, traced=False):
        total, secs, results, layers = self.run_pass(checksum, traced)
        for name, value in results.items():
            ref = self.checksums.setdefault(name, value)
            if value != ref:
                self.failures.append(
                    f"{name}: checksum {value} != {ref} of an earlier pass")
        return total, secs, layers

    def check_oracles(self, frames, oracle_sql) -> dict[str, bool]:
        """The parity check of scripts/driver_sim.py: same rows, same
        columns, values equal within 1e-9 after normalisation."""
        from oracle_harness import _normalize, run_duckdb
        from scripts.driver_sim import _values_equal

        ok = {}
        for name, got in frames.items():
            try:
                want = run_duckdb(oracle_sql[name], self.sf_dir)
                ok[name] = (len(got) == len(want)
                            and sorted(got.columns) == sorted(want.columns)
                            and _values_equal(_normalize(got),
                                              _normalize(want)))
            except Exception:  # noqa: BLE001
                self.failures.append(
                    f"{name}: oracle {traceback.format_exc(limit=2)[-400:]}")
                ok[name] = False
                continue
            if not ok[name]:
                self.failures.append(f"{name}: result differs from oracle")
        return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path[:0] = [repo, os.path.join(repo, "tests")]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from workloads import WORKLOADS

    wl = WORKLOADS[a.workload]

    # ---- 0. inputs ----------------------------------------------------
    t_inputs = time.perf_counter()
    # this also loads pandas, numpy and pyarrow; pyspark is loaded here
    # too, so both set-ups below time the same work: JVM, session and
    # the engine's own import
    import datagen
    import pyspark.sql  # noqa: F401

    datagen.write(a.data, wl.sf)

    # ---- 1. set-up, twice: JVM + session, then the registry --------
    # one JVM start reads 7-12 s on a busy host; setup_s reports the
    # median of the set-ups (of two, their mean)
    t_setup = time.perf_counter()
    setups = []
    for i in range(SETUPS):
        spark, queries, spark_s, import_s = set_up(f"perfbench-{wl.name}")
        setups.append({"session.get_spark_s": spark_s,
                       "registry.import_s": import_s,
                       "setup_s": spark_s + import_s})
        if i < SETUPS - 1:
            tear_down(spark)
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__

    oracle_sql = __spark_entry__.oracle_sql()

    tracer = None
    if a.trace:
        from layers import Tracer

        tracer = Tracer(spark, a.warehouse)

    order = list(wl.queries)
    random.Random(a.seed).shuffle(order)
    run = Run(spark, queries, order, a.data, tracer)

    # ---- 2. canary ---------------------------------------------------
    # the session's first job pays one-time JVM warm-up: keep it out of
    # the canary and out of the cold pass, but record it
    first_job_s = calibrate(spark)["total_s"]
    calib_start = calibrate(spark)

    # ---- 3. cold pass, forced by toPandas, checked against oracles ---
    t_cold = time.perf_counter()
    cold_s, cold_q, frames, cold_layers = run.run_pass(to_pandas, bool(tracer))
    t_oracle = time.perf_counter()
    oracle_ok = run.check_oracles(frames, oracle_sql)
    del frames
    t_start = time.perf_counter()

    # ---- 4. warm passes ----------------------------------------------
    # Timing starts right after the cold pass: pass times keep falling
    # for ~12 passes (JIT), far past what a run can afford, so fixed
    # positions (the passes right after the cold one) stay comparable.
    # A traced run times passes in ABBA blocks (untraced, traced, traced,
    # untraced), so both kinds sit at the same mean session position and
    # the warm-up trend cancels out of the tracing overhead.
    timed = []
    block = 4 if tracer else 1
    while True:
        traced = bool(tracer) and len(timed) % 4 in (1, 2)
        total, secs, layers = run.checksum_pass(traced)
        timed.append({"pass_s": total, "traced": traced, "queries": secs,
                      "layers": layers})
        if (len(timed) >= wl.min_passes and len(timed) % block == 0
                and time.perf_counter() - t_start >= a.seconds):
            break

    # ---- 5. canary, memory -------------------------------------------
    t_end = time.perf_counter()
    calib_end = calibrate(spark)
    mem = memory_mb()
    # retained memory: release Python-side handles (py4j then frees the
    # JVM objects), then collect until two GCs in a row free nothing
    # more; the pauses let Spark's ContextCleaner drop the blocks of
    # RDDs and broadcasts the previous GC found unreachable, which can
    # take more than one pause
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap, idle = float("inf"), 0
    for _ in range(12):
        jvm.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        idle = idle + 1 if used > 0.98 * heap else 0
        heap = min(heap, used)
        if idle == 2:
            break
        time.sleep(0.3)
    mem["heap_live_mb"] = heap
    mem["nonheap_mb"] = mx.getNonHeapMemoryUsage().getUsed() / 2**20
    spark.stop()
    t_stop = time.perf_counter()

    plain = [p for p in timed if not p["traced"]]
    doc = {
        "workload": wl.name, "seed": a.seed, "sf": wl.sf,
        "seconds": a.seconds, "trace": a.trace, "order": order,
        "setups": setups,
        **{k: statistics.median(s[k] for s in setups) for k in setups[0]},
        "session.first_job_s": first_job_s,
        "calib_start": calib_start, "calib_end": calib_end,
        "cold_pass_s": cold_s, "cold_queries": cold_q,
        "cold_layers": cold_layers,
        "timed": timed,
        # a median pass: each query's median over the untraced passes,
        # summed (from three passes on, one query's spike in one pass
        # does not move it)
        "pass_s": sum(statistics.median(p["queries"][n] for p in plain)
                      for n in order),
        "query_p50_s": statistics.median(
            s for p in plain for s in p["queries"].values()),
        "query_samples": sum(len(p["queries"]) for p in plain),
        "peak_rss_mb": mem["python_hwm_mb"] + mem["jvm_hwm_mb"],
        "retained_mb": (mem["heap_live_mb"] + mem["nonheap_mb"]
                        + mem["python_rss_mb"]),
        "mem": mem,
        "phase_s": {"inputs": t_setup - t_inputs, "setup": t2 - t_setup, "canary": t_cold - t2,
                    "cold": t_oracle - t_cold, "oracle": t_start - t_oracle,
                    "timed": t_end - t_start,
                    "finish": t_stop - t_end},
        "oracle_ok": oracle_ok,
        "attempted": run.attempted,
        "failures": run.failures,
    }
    with open(a.out, "w") as f:
        json.dump(doc, f, indent=1)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # the session is stopped and the result written: skip interpreter
    # teardown (py4j shutdown hooks); run.py stops the JVM
    os._exit(code)
