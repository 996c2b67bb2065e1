"""SparkSession factory.

Defaults are chosen for the driver's environment (single-JVM ``local[N]``,
128 GiB) but every knob is the one you would also set on a real cluster:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast-join demotion/promotion — the levers that matter at
  100 TB where static planning guesses wrong.
- ``spark.sql.shuffle.partitions`` sized to the core count locally; on a
  1000-executor cluster you would set it to 2-3x total cores and let AQE
  coalesce, which is exactly what these settings do in miniature.
- Arrow enabled: every Python-side kernel in this engine is an
  Arrow-batched pandas UDF / applyInPandas — never row-at-a-time Python.
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def scratch_root() -> str:
    """Writable scratch for queries that materialize (sink roundtrips,
    layout rewrites, managed bucketed tables). Same override as
    ``spark.sql.warehouse.dir`` below so CONCURRENT sessions (the
    two-seed expr-determinism gate) never collide on one directory;
    default is the repo's gitignored warehouse dir, unchanged."""
    return os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                          "/root/repo/spark-warehouse")


def get_spark(app_name: str = "impractical-impala-spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's tuning applied."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
    )
    for k, v in tuned_conf(n).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tuned_conf(cores: int) -> dict[str, str]:
    """Engine configuration, also applied by tests/bench onto an existing
    session where possible (some keys are static and only take effect at
    session build time)."""
    return {
        # --- adaptive execution: the scale story -------------------------
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing ----------------------------------------------
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.default.parallelism": str(max(cores, 8)),
        # 128 MiB input splits: good balance of task count vs overhead for
        # parquet scans both at sf0.1 and on a real cluster.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # --- python boundary ---------------------------------------------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- JIT: compile wide generated projections -----------------------
        # The vector kernels emit unrolled 64-term dot products (see
        # functions/vecfold.py); Janino compiles them into one generated
        # method whose bytecode exceeds HotSpot's default huge-method
        # limit (8000 bytecode), so the JIT would leave exactly the
        # hottest per-pair code INTERPRETED. Lifting the limit is the
        # standard fix for wide-schema/wide-expression Spark codegen and
        # is scale-independent (a real cluster sets the same flag on
        # executors — both are set here; in local mode only the driver
        # JVM exists). Measured at sf0.1: the exact-cosine pair scan
        # drops ~3-4x vs both the interpreted fold and the unflagged
        # unroll (OPTIMIZATION_r15.md).
        # ReservedCodeCacheSize: a 400+-query session compiles thousands
        # of generated classes; with huge-method compilation enabled the
        # default 240 MB code cache is headroom-tight (a full cache
        # silently disables the JIT mid-run). Measured same-session on a
        # 21-query subset: flag 52.9 s vs no-flag 85.7 s total with a
        # flat untouched tail (40.9 vs 41.7 s); +cache within noise of
        # flag-only — the bump is cheap insurance, not a tuned value.
        "spark.driver.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        "spark.executor.extraJavaOptions":
            "-XX:-DontCompileHugeMethods -XX:ReservedCodeCacheSize=512m",
        # --- codegen cache ------------------------------------------------
        # Static: Spark's cache of compiled generated classes, keyed by
        # source text, holds 100 entries by default. perfbench's
        # graph_panel_lake compiles 104 distinct classes in its cold
        # pass (unbounded cache, local[2], sf0.001) on top of the
        # session's own, so at 100 every warm pass recompiled 92-109
        # of them (~1.3 s of Janino). 256 is over 2x that working set
        # and reads 0 warm compiles, with retained driver memory
        # unchanged; a larger cap only holds more classes.
        "spark.sql.codegen.cache.maxEntries": "256",
        # --- determinism / oracle parity ----------------------------------
        "spark.sql.session.timeZone": "UTC",
        # ANSI off: the engine mirrors the reference's R semantics where
        # log(<=0)/overflow yield NULL-ish results rather than errors; all
        # guarded expressions pre-filter anyway (SURVEY.md O19).
        "spark.sql.ansi.enabled": "false",
        # --- quieter local runs -------------------------------------------
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # managed-table location (bucketed_join_segments writes one).
        # Overridable so CONCURRENT sessions (the two-seed expr
        # determinism gate runs two JVMs at once) don't race on the
        # same ./spark-warehouse path — a second session hits
        # LOCATION_ALREADY_EXISTS on the first one's files.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE_DIR", "spark-warehouse"),
    }
