#!/usr/bin/env python
"""Benchmark harness: times every registered query, in registration
order, then the bench-only kernels (``headline()``; the registry is the
only list of queries, so registering a query needs no edit here) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line:

    {"metric": "...", "value": N, "unit": "sec", "sf": ..., "n_queries": N,
     "cpu_ref_sec": ..., "cpu_ref_par_sec": ..., "detail": "BENCH_DETAIL.json"}

Per-query timings go to BENCH_DETAIL.json next to this script: the
driver records only the LAST 2,000 bytes of stdout, and past ~70
headline queries an inline {"queries": {...}} map outgrew that window
(round 5's recorded bench line truncated mid-JSON and failed to parse).
The stdout line is everything the driver needs; the repo file keeps the
per-query history the round-over-round comparisons use.

Each query executes to completion by aggregating a checksum over EVERY
output column (count() alone would let Catalyst prune projection
expressions that don't affect row count, under-measuring
expression-heavy queries); driver memory stays flat — no collect() of
large results.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


# Queries whose recorded number was flagged as possible variance in a
# verdict: measure as BEST OF 3 so the recorded value reflects the
# plan, not a GC/position artifact (the r5->r6 dedup_minhash_lsh
# discipline; emb_intra_label_cohesion is the r6 watch item; the
# iterative dedup/CC family is the r7 watch item — many short jobs,
# bench-position GC debt dominates single runs).
BEST_OF_3 = {"emb_intra_label_cohesion", "dedup_incremental",
             "dedup_survivors", "dedup_clusters", "ann_dedup_pipeline",
             "graph_triangles"}

# Any query whose single-shot time comes out >2x its prior recorded
# value is AUTOMATICALLY re-measured best-of-3 before being written
# (VERDICT r10 ask #7): single-shot timings at this scale are +-60%
# (the nation_theilsen_trend episode), so a one-off GC/position spike
# must not masquerade as a plan regression in the round-over-round
# comparison. The names re-measured this way are recorded in
# BENCH_DETAIL.json under "remeasured_2x_movers".
MOVER_RATIO = 2.0

# Library kernels deregistered from the driver-facing registry (their
# hash-evidence twins carry the CORRECTNESS rows — see
# queries/stats_ops.py / queries/sketches.py) but kept in bench so the
# per-query timing series stays append-only across rounds. VERDICT r11
# ask #3: these are timed but recorded under BENCH_DETAIL's
# "out_of_registry" key and EXCLUDED from the headline total/n_queries,
# so the stdout line's basis equals the registry exactly and
# round-over-round totals need no footnote.
def _bench_only() -> dict:
    from impractical_impala_spark.queries.stats_ops import o22_hp_detrend_sd

    return {"o22_hp_detrend_sd": o22_hp_detrend_sd}


def headline() -> list[str]:
    """The bench order: every registered query in registration order,
    then the bench-only kernels. Registration order is stable from round
    to round; ``all_queries()`` order is not, because the correctness
    window is moved to its front."""
    from impractical_impala_spark.registry import all_queries, registered_names

    all_queries()  # loads the query package, which registers every query
    return registered_names() + list(_bench_only())


def detail_path_of() -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_DETAIL.json")


def detail_path_for_cpus(cpus: str) -> str:
    """Per-core-count detail path (VERDICT r15 "what's wrong" #3): the
    driver benches at two core counts and the single BENCH_DETAIL.json
    was last-run-wins — the 8-core scaling run overwrote the 32-core
    detail, so PERF_r15 had no 32c-vs-32c per-query comparison. Every
    run now ALSO writes BENCH_DETAIL_c{cpus}.json (same schema), and
    the prior used for the >2x-mover policy / like-for-like block
    prefers the SAME-core-count file, so cross-core ratios never
    masquerade as movers. BENCH_DETAIL.json keeps being written
    unchanged for every existing consumer."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        f"BENCH_DETAIL_c{cpus}.json")


def like_for_like(prior: dict[str, float],
                  timings: dict[str, float]) -> dict | None:
    """Self-interpreting headline (VERDICT r13 ask #2): the two numbers
    the judge derives by hand every round — the like-for-like sum ratio
    vs the previously committed BENCH_DETAIL over the COMMON query
    names, and the count of >=2x movers (either direction) — computed
    at bench time so the wall-clock headline carries its own
    interpretation. Per the canary protocol: a sum ratio far from 1.0
    with ~zero movers and a degraded cpu_ref_par_sec is uniform host
    drift; specific movers while the canaries are flat is a code
    regression. Returns None when there is no prior to compare against
    (first run in a fresh repo)."""
    common = sorted(n for n in timings
                    if n in prior and prior[n] > 0 and timings[n] > 0)
    if not common:
        return None
    sum_new = sum(timings[n] for n in common)
    sum_prior = sum(prior[n] for n in common)
    ratios = sorted(timings[n] / prior[n] for n in common)
    mid = len(ratios) // 2
    median = (ratios[mid] if len(ratios) % 2
              else (ratios[mid - 1] + ratios[mid]) / 2.0)
    movers = [n for n in common
              if timings[n] / prior[n] >= MOVER_RATIO
              or prior[n] / timings[n] >= MOVER_RATIO]
    return {
        "n_common": len(common),
        "sum_new_sec": round(sum_new, 4),
        "sum_prior_sec": round(sum_prior, 4),
        "sum_ratio": round(sum_new / sum_prior, 4),
        "median_query_ratio": round(median, 4),
        "movers_ge_2x": len(movers),
        "mover_names": sorted(movers),
    }


def _load_anchor() -> dict | None:
    """BENCH_ANCHOR.json (repo root, committed): a same-code re-bench
    of a prior round's commit under current host conditions, recorded
    so the driver can separate host Spark-path drift from plan
    regressions without re-deriving it from commit messages. Written
    by scripts/bench_anchor.py; embedded verbatim in BENCH_DETAIL.json
    and summarized (commit + drift ratio) on the stdout line."""
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_ANCHOR.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _hash_loop(n: int = 2_000_000) -> int:
    h = 0
    for i in range(n):
        h = (h * 1099511628211 + i) & 0xFFFFFFFFFFFFFFFF
    return h


def cpu_ref_sec() -> float:
    """Deterministic single-core reference workload (~0.5 s on a fast
    core): fixed-iteration integer hashing in pure Python. Reported
    alongside the query timings so round-over-round comparisons can be
    normalized for host-speed drift — the same plans on a 2x-slower
    host legitimately take ~2x the wall time, and this scalar makes
    that visible instead of reading as a plan regression."""
    t0 = time.perf_counter()
    assert _hash_loop()  # keep the loop observable
    return round(time.perf_counter() - t0, 4)


def cpu_ref_par_sec() -> float:
    """Same workload fanned out across every core at once (one process
    per CPU). Single-core speed and under-load speed drift
    independently on shared hosts — the queries that saturate all
    cores (expression-heavy dedup/text) track THIS number, while
    shuffle-bound queries track the serial one."""
    import concurrent.futures as cf
    import multiprocessing as mp

    n = mp.cpu_count()
    t0 = time.perf_counter()
    with cf.ProcessPoolExecutor(max_workers=n) as ex:
        assert all(ex.map(_hash_loop, [2_000_000] * n))
    return round(time.perf_counter() - t0, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from impractical_impala_spark.session import default_parallelism, get_spark
    from impractical_impala_spark.registry import all_queries

    spark = get_spark("iis-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # warm the JVM, FS cache, AND the Python worker pool outside the
    # timed region (the first applyInPandas in a session otherwise pays
    # the fork+import cost of every worker)
    from pyspark.sql import functions as F

    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(1000).withColumn("g", F.col("id") % 32) \
        .groupBy("g").applyInPandas(lambda pdf: pdf, "id long, g long").count()

    def force(df) -> None:
        # xor-fold a 64-bit hash of every output column: consumes each
        # column's value (no projection pruning) and returns one row to
        # the driver. bit_xor over the hashes is order-independent and
        # wraparound-free by construction, so the checksum is identical
        # regardless of partitioning (sum would also work here — ANSI
        # mode is off repo-wide — but xor states the intent)
        df.select(F.xxhash64(*df.columns).alias("h")) \
            .agg(F.expr("bit_xor(h)")).collect()

    # prior per-query values (the committed detail from the previous
    # round) drive the >2x-mover re-measurement policy. Prefer the
    # SAME-core-count detail file so an 8-core scaling run never
    # supplies the prior for a 32-core run (or vice versa) — cross-core
    # ratios are not movers (VERDICT r15 "what's wrong" #3).
    cpus = str(default_parallelism())
    prior: dict[str, float] = {}
    for prior_path in (detail_path_for_cpus(cpus), detail_path_of()):
        try:
            with open(prior_path) as f:
                _prior_doc = json.load(f)
        except (OSError, ValueError):
            continue
        if str(_prior_doc.get("cpus", cpus)) != cpus:
            continue  # other-core-count detail: not a valid prior
        prior = dict(_prior_doc.get("queries", {}) or {})
        prior.update(_prior_doc.get("out_of_registry", {}) or {})
        break

    bench_only = _bench_only()
    timings: dict[str, float] = {}
    extra_timings: dict[str, float] = {}
    remeasured: list[str] = []
    total = 0.0
    for name in headline():
        build = queries[name].build if name in queries else bench_only[name]

        def measure_once() -> float:
            t0 = time.perf_counter()
            force(build(spark, sf_dir))
            return round(time.perf_counter() - t0, 4)

        def clean_heap() -> None:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()

        runs = 3 if name in BEST_OF_3 else 1
        best = None
        for _ in range(runs):
            dt = measure_once()
            best = dt if best is None else min(best, dt)
            if runs > 1:
                clean_heap()
        # >2x-mover policy: a single-shot spike vs the prior round's
        # recorded value triggers two more runs; best-of-3 is recorded
        if runs == 1 and name in prior and prior[name] > 0 \
                and best > MOVER_RATIO * prior[name]:
            remeasured.append(name)
            for _ in range(2):
                clean_heap()
                best = min(best, measure_once())
        if name in queries:
            timings[name] = best
            total += best
        else:
            # deregistered bench-only kernel: timing series continues,
            # headline basis stays equal to the registry
            extra_timings[name] = best
        # each query stands alone: intra-query caches must not leak
        # memory/GC pressure into the next measurement (r5's recorded
        # dedup_minhash_lsh 5.7s vs 1.6-4.3s same-session re-runs was
        # bench-position GC debt, not a plan change — force collection
        # OUTSIDE the timed region so each query starts from a clean
        # heap)
        clean_heap()

    ref_sec, ref_par_sec = cpu_ref_sec(), cpu_ref_par_sec()
    anchor = _load_anchor()
    detail_path = detail_path_of()
    # prior still holds the PREVIOUS committed detail (read before the
    # measurement loop); compare before overwriting the file
    lfl = like_for_like(prior, timings)
    detail = {
        "metric": "headline_query_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "cpu_ref_sec": ref_sec,
        "cpu_ref_par_sec": ref_par_sec,
    }
    if extra_timings:
        detail["out_of_registry"] = extra_timings
    if anchor:
        detail["anchor"] = anchor
    if remeasured:
        detail["remeasured_2x_movers"] = sorted(remeasured)
    if lfl:
        detail["like_for_like_vs_prior_detail"] = lfl
    # last-run-wins single file (every existing consumer) PLUS the
    # per-core-count copy the round-over-round comparison needs
    for path in (detail_path, detail_path_for_cpus(cpus)):
        with open(path, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
            f.write("\n")
    line = {
        "metric": "headline_query_wall_sec",
        "value": round(total, 4),
        "unit": "sec",
        "sf": sf,
        "cpus": int(cpus),
        "n_queries": len(timings),
        "cpu_ref_sec": ref_sec,
        "cpu_ref_par_sec": ref_par_sec,
        "detail": "BENCH_DETAIL.json",
    }
    if anchor:
        # RECORDED at anchor time by scripts/bench_anchor.py, NOT a
        # per-run measurement (VERDICT r12 "what's wrong" #2: the old
        # name anchor_drift read like a fresh number while repeating
        # the same committed value every round).
        line["anchor_commit"] = anchor.get("anchor_commit")
        line["anchor_drift_recorded"] = anchor.get("drift_ratio")
    if lfl:
        # measured THIS run vs the previously committed BENCH_DETAIL
        # over common query names — the like-for-like ratio + mover
        # count that make the wall-clock total self-interpreting
        # (uniform ratio + zero movers = host drift; see canary pair)
        line["like_for_like_vs_detail"] = lfl["sum_ratio"]
        line["median_query_ratio"] = lfl["median_query_ratio"]
        line["movers_ge_2x"] = lfl["movers_ge_2x"]
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
