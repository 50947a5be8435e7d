"""One benchmark run inside a fresh process: set up, time passes, check.

Started by ``run.py`` with the repository on ``PYTHONPATH`` and every
scratch location (warehouse, ``SPARK_LOCAL_DIRS``, ``TMPDIR``, the source
fixtures, Derby files in the working directory) under a per-run directory.
Writes one JSON result file; ``run.py`` summarizes and checks it.

Timings are taken from outside the program, around its public entry points:
``session.get_spark`` (session start), the registered builder
``registry.QUERIES[name](spark, sf_dir)`` (build time, including eager
build-time jobs) and the noop-sink drain (exec time).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import traceback

from pyspark.sql import functions as F
from pyspark.sql import types as T


def _proc_peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def drain(df) -> None:
    """Evaluate every row and column JVM-side, transferring nothing."""
    df.write.format("noop").mode("overwrite").save()


# Significant digits kept of floating-point values before hashing: sums and
# moments of doubles depend on the order of addition, so on how rows are
# split into partitions. Rounding to these hides that; a difference in the
# digits kept is a real change.
DOUBLE_FORMAT = "%.9e"
FLOAT_FORMAT = "%.5e"

# heap_retained_mb: a collection every HEAP_WAIT_S until the last
# HEAP_STABLE readings lie within HEAP_SETTLED_MB (at most HEAP_ROUNDS).
# The heap falls in steps as the cleaner works, with pauses of up to a
# second between them.
HEAP_ROUNDS = 30
HEAP_WAIT_S = 0.5
HEAP_STABLE = 4
HEAP_SETTLED_MB = 1.0


def normalised(col, dtype):
    """``col`` with every floating-point value in it, nested ones too,
    replaced by its decimal text at a fixed number of significant digits."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        fmt = DOUBLE_FORMAT if isinstance(dtype, T.DoubleType) else FLOAT_FORMAT
        # adding 0.0 turns -0.0 into 0.0
        return F.format_string(fmt, col.cast("double") + F.lit(0.0))
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda e: normalised(e, dtype.elementType))
    if isinstance(dtype, T.MapType):
        return F.transform_values(col, lambda _, v: normalised(v, dtype.valueType))
    if isinstance(dtype, T.StructType):
        fields = [normalised(col[f.name], f.dataType).alias(f.name) for f in dtype.fields]
        return F.when(col.isNull(), F.lit(None)).otherwise(F.struct(*fields))
    return col


def content_digest(df) -> tuple[int, str]:
    """Row count and an order-insensitive content hash: the sum over rows of
    xxhash64 of all columns, floating-point ones normalised, summed exactly
    in decimal so order and partitioning cannot change it."""
    cols = [normalised(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)), F.sum("h")).collect()[0]
    return int(row[0]), str(row[1] if row[1] is not None else 0)


def heap_retained_mb(sc) -> float:
    """JVM heap in use after full collections: what the driver retains.

    Data that only unreachable frames referenced (broadcasts, checkpointed
    and shuffle blocks) is freed by Spark's cleaner thread some time after
    a collection finds the frames dead, so collect until the reading
    settles."""
    jvm = sc._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for _ in range(HEAP_ROUNDS):
        jvm.java.lang.System.gc()
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-HEAP_STABLE:]
        if len(last) == HEAP_STABLE and max(last) - min(last) < HEAP_SETTLED_MB:
            break
        time.sleep(HEAP_WAIT_S)
    return readings[-1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--eventlog", default="")
    args = ap.parse_args()
    # the launcher's time.monotonic() just before it spawned this process;
    # CLOCK_MONOTONIC is one system-wide clock, so the readings compare
    spawned = float(os.environ["PERFBENCH_SPAWN_TIME"])

    from workloads import WORKLOADS, layer_of, permute

    from repcheck_data_integration_spark import registry, tables
    from repcheck_data_integration_spark.sources import file_sources
    from repcheck_data_integration_spark.session import get_spark

    registry.load_all_modules()
    # Source-format fixtures derive from the tables on first use; keep them
    # inside the run directory instead of the module's shared default.
    file_sources.FIXTURE_ROOT = os.path.join(args.run_dir, "fixtures")

    wl = WORKLOADS[args.workload]
    order = permute(wl.queries, args.seed)
    traced = bool(args.eventlog)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": args.eventlog,
            }
        )
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    start_s = time.time() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    # JVM and whole-stage-codegen warm-up on a trivial plan.
    spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.monotonic() - spawned

    runs: list[dict] = []
    passes: list[dict] = []
    tracker = sc.statusTracker()
    seen_jobs: set[int] = set()

    def new_jobs(group: str) -> int:
        ids = set(tracker.getJobIdsForGroup(group)) - seen_jobs
        seen_jobs.update(ids)
        return len(ids)

    # the frames built by the latest pass, hashed once the window closes
    latest: dict[str, object] = {}

    def run_query(name: str, p: int) -> dict:
        rec = {"query": name, "layer": layer_of(registry.QUERIES[name].__module__), "pass": p}
        group = f"{args.workload}:{name}"
        t = time.perf_counter()
        try:
            if traced:
                sc.setJobGroup(f"{group}:build", "build")
            df = latest[name] = registry.QUERIES[name](spark, args.data)
            rec["build_s"] = time.perf_counter() - t
            t = time.perf_counter()
            if traced:
                sc.setJobGroup(f"{group}:exec", "exec")
            drain(df)
            rec["exec_s"] = time.perf_counter() - t
            rec["ok"] = True
        except Exception as exc:  # a failed query counts; the run goes on
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:2000]
            traceback.print_exc()
        if traced:
            sc.setJobGroup("perfbench:idle", "idle")
            rec["jobs_build"] = new_jobs(f"{group}:build")
            rec["jobs_exec"] = new_jobs(f"{group}:exec")
            rec["persisted_rdds"] = len(sc._jsc.getPersistentRDDs())
        return rec

    window_start = time.perf_counter()
    later_from_ms = 0
    p = 0
    while p <= wl.later_passes or time.perf_counter() - window_start < args.seconds:
        if p == 1:
            later_from_ms = int(time.time() * 1000)
        tp = time.perf_counter()
        recs = [run_query(q, p) for q in order]
        passes.append({"pass": p, "wall_s": time.perf_counter() - tp})
        runs.extend(recs)
        p += 1
    later_to_ms = int(time.time() * 1000) + 1

    t_check = time.perf_counter()
    checks: dict[str, dict] = {}
    for name in order:
        try:
            if name not in latest:
                raise RuntimeError("the query never built")
            rows, digest = content_digest(latest[name])
            checks[name] = {"rows": rows, "hash": digest}
        except Exception as exc:
            checks[name] = {"error": f"{type(exc).__name__}: {exc}"[:2000]}
            traceback.print_exc()

    check_s = time.perf_counter() - t_check
    # Measured without the benchmark's own references to the frames: which
    # of them the JVM still holds varies from run to run.
    latest.clear()
    gc.collect()
    heap_mb = heap_retained_mb(sc)
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = (_proc_peak_rss_kb(jvm_pid) + _proc_peak_rss_kb("self")) / 1024.0
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "order": order,
        "setup_s": setup_s,
        "start_s": start_s,
        "passes": passes,
        "later_window_ms": [later_from_ms, later_to_ms],
        "runs": runs,
        "checks": checks,
        "check_s": check_s,
        "fixed_costs": dict(tables.FIXED_COSTS),
        "peak_rss_mb": peak_rss_mb,
        "heap_retained_mb": heap_mb,
    }
    spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
