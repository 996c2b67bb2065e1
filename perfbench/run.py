"""Benchmark of the impractical_impala_spark engine: one command, one run.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 4 --trace 0

Run from the repository root (or any checkout of it). The command:

- refuses to start while another Spark JVM is running;
- runs ``perfbench/worker.py`` in a fresh process with ``local[2]``,
  the checkout on ``PYTHONPATH`` (Python workers import the engine
  too) and every scratch path inside ``perfbench/out``;
- prints a human summary, then, as the last line of standard output,
  one JSON object: ``correct``, ``attempted``, ``failed`` and the
  metrics (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).

It exits 1 when any query fails, returns a result that differs from its
DuckDB oracle, or changes its checksum between passes, and 2 when it
cannot run at all. See ``perfbench/README.md`` for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CPUS = "2"
WORKER_TIMEOUT_S = 165

END_TO_END = (("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("query_p50_s", "s"), ("retained_mb", "MiB"))


def spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs (any SparkSubmit process)."""
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(pid))
    return pids


def stop_group(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's group (the worker, its JVM,
    Python daemons) and wait until none is left. SIGKILL is safe: the
    worker has stopped its session or is being aborted, and everything
    it wrote outside the result file is deleted with its work dir."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        proc.poll()  # reap the worker: its zombie would keep the group
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)
    raise RuntimeError(f"worker process group {proc.pid} did not exit")


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        return fail(f"unknown workload {a.workload!r}; "
                    f"choose from {sorted(WORKLOADS)}")
    for need in ("impractical_impala_spark", "__spark_entry__.py",
                 "tests/oracle_harness.py", "scripts/driver_sim.py"):
        if not os.path.exists(os.path.join(REPO, need)):
            return fail(f"{need} not found beside perfbench/: run from a "
                        "full checkout of the repository")
    others = spark_jvms()
    if others:
        return fail(f"another Spark JVM is running (pids {others}); "
                    "a concurrent session distorts every timing")
    wl = WORKLOADS[a.workload]

    runs = os.path.join(OUT, wl.name)
    work = os.path.join(runs, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    warehouse = os.path.join(work, "warehouse")
    data = os.path.join(work, "data")
    for d in (tmp, warehouse):
        os.makedirs(d)
    tag = f"seed{a.seed}-trace{a.trace}"
    result_path = os.path.join(runs, f"{tag}.json")
    log_path = os.path.join(runs, f"{tag}.log")
    if os.path.exists(result_path):
        os.remove(result_path)

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": REPO,
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_WAREHOUSE_DIR": warehouse,
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", wl.name, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--warehouse", warehouse, "--out", result_path]

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    # a terminated supervisor still stops the worker's process group
    # (the ``finally`` below) before it exits
    signal.signal(signal.SIGTERM, on_term)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        return fail(f"worker {'timed out' if code is None else f'exited {code}'}"
                    f"; log {log_path}:\n{tail}")

    with open(result_path) as f:
        doc = json.load(f)
    report(doc)
    failed = min(len(doc["failures"]), doc["attempted"])
    if a.trace:
        from layers import summarize

        metrics = summarize(doc, os.path.join(runs, f"layers-{tag}.json"))
    else:
        metrics = {k: {"value": doc[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": doc["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def report(doc: dict) -> None:
    """Human-readable lines before the result line."""
    plain = [p["pass_s"] for p in doc["timed"] if not p["traced"]]
    cs, ce = doc["calib_start"]["total_s"], doc["calib_end"]["total_s"]
    print(f"workload {doc['workload']} sf{doc['sf']} seed {doc['seed']} "
          f"order {doc['order']}")
    print(f"setup {[round(s['setup_s'], 3) for s in doc['setups']]} "
          f"(median {doc['setup_s']:.3f}s)  cold pass {doc['cold_pass_s']:.3f}s")
    print(f"warm passes {[round(x, 3) for x in plain]} "
          f"(median {statistics.median(plain):.3f}s); query p50 "
          f"{doc['query_p50_s']:.3f}s over {doc['query_samples']} samples")
    print(f"retained {doc['retained_mb']:.0f} MiB, peak rss "
          f"{doc['peak_rss_mb']:.0f} MiB; host canary "
          f"{cs:.3f}s -> {ce:.3f}s; oracle {doc['oracle_ok']}")
    for f in doc["failures"]:
        print(f"FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
