"""Benchmark entry point: one run of one workload, as one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Generates the workload's input tables
(cached under ``.perfbench/data`` by generator content), starts
``worker.py`` in a fresh process with the repository on ``PYTHONPATH`` and all
scratch state under a per-run directory, then prints every metric with its
unit on stderr and, as the last line of stdout, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones. With ``--trace 1`` an
untraced run is made first and then, with the same seed, a run with Spark's
event log on; the metrics are the per-layer ones of the traced run, plus the
tracing overhead: traced ``pass_s`` minus untraced ``pass_s``. The full traced
record is written to ``.perfbench/traces/`` for ``tracediff.py``.

Outputs are checked after the timed passes against ``expected.json``; any
query that raised or whose output differs makes the command exit 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from statistics import median

import datagen
import eventlog
from stats import tail
from workloads import LAYERS, PACKAGE, WORKLOADS, per_layer_metric_names

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

CPUS_MAX = 4
# The heap's ceiling only; the JVM picks its initial size.
DRIVER_MEM = "4g"
# The whole command must end within 180 s; workers are stopped at this.
DEADLINE_S = 170
_T0 = time.monotonic()


def _cpus() -> int:
    return min(CPUS_MAX, len(os.sched_getaffinity(0)))


def _session_pids(sid: int) -> list[int]:
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            if os.getsid(int(d)) == sid:
                pids.append(int(d))
        except OSError:
            continue
    return pids


def _stop_session(proc: subprocess.Popen, grace_s: float) -> None:
    """Stop every process of the worker's session, after ``grace_s`` for
    them to end on their own, and wait until each has ended. The session,
    not the process group: PySpark's worker daemon moves itself into a
    process group of its own."""
    sid = proc.pid
    proc.poll()
    deadline = time.time() + grace_s
    while _session_pids(sid) and time.time() < deadline:
        time.sleep(0.1)
        proc.poll()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10
        while _session_pids(sid) and time.time() < end:
            time.sleep(0.1)
            proc.poll()
    proc.wait()


def run_worker(
    workload: str, seed: int, seconds: float, data: str, traced: bool, cpus: int | None = None
) -> tuple[dict, dict | None]:
    """One fresh worker process on ``cpus`` cores (default: all, up to
    ``CPUS_MAX``); returns its result and, when traced, the parsed event log."""
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{workload}-", dir=os.path.join(WORK, "runs"))
    try:
        tmp = os.path.join(run_dir, "tmp")
        local = os.path.join(run_dir, "local")
        elog = os.path.join(run_dir, "eventlog")
        for d in (tmp, local, elog):
            os.makedirs(d)
        env = dict(os.environ)
        env.update(
            {
                "PYTHONPATH": ROOT,
                "SPARK_GRAFT_CPUS": str(cpus or _cpus()),
                "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
                "SPARK_LOCAL_DIRS": local,
                "TMPDIR": tmp,
                "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            }
        )
        out = os.path.join(run_dir, "result.json")
        cmd = [
            sys.executable,
            os.path.join(HERE, "worker.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--data", data,
            "--run-dir", run_dir,
            "--out", out,
        ]
        if traced:
            cmd += ["--eventlog", elog]
        log_path = os.path.join(run_dir, "worker.log")
        with open(log_path, "w") as log:
            env["PERFBENCH_SPAWN_TIME"] = repr(time.monotonic())
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            rc = None
            try:
                rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - _T0)))
            except subprocess.TimeoutExpired:
                pass
            finally:
                # a clean exit gets time to shut its JVM down; a timeout or
                # an interrupt of this process stops the worker at once
                _stop_session(proc, 15.0 if rc == 0 else 0.0)
        if rc != 0 or not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            why = "timed out" if rc is None else f"exited {rc}"
            raise RuntimeError(f"worker for {workload} {why}")
        with open(out) as f:
            result = json.load(f)
        trace = eventlog.parse_dir(elog) if traced else None
        return result, trace
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def check_outputs(workload: str, result: dict, expected: dict) -> dict[str, str]:
    """Query name -> why its checked output is wrong (empty when all match)."""
    rows_only = set(expected["rows_only"])
    want = expected["workloads"].get(workload, {})
    bad: dict[str, str] = {}
    for name in result["order"]:
        got = result["checks"].get(name, {})
        exp = want.get(name)
        if "error" in got:
            bad[name] = got["error"]
        elif exp is None:
            bad[name] = "no expected output recorded"
        elif got["rows"] != exp["rows"]:
            bad[name] = f"rows {got['rows']} != expected {exp['rows']}"
        elif name not in rows_only and got["hash"] != exp["hash"]:
            bad[name] = f"content hash {got['hash']} != expected {exp['hash']}"
    return bad


def _later(result: dict) -> list[dict]:
    return [r for r in result["runs"] if r["pass"] >= 1]


def end_to_end(result: dict) -> tuple[dict, list[str]]:
    """End-to-end metrics of an untraced result, plus notes for stderr.

    The query tail is a note, not a metric: with the few query runs a run
    holds, the highest percentile with ten runs beyond it can fall below
    the median. So is peak RSS: the JVM grows its heap on its collector's
    timing, so the peak moves by up to a third between like runs; the heap
    retained after full collections is the memory metric instead."""
    later_walls = [p["wall_s"] for p in result["passes"] if p["pass"] >= 1]
    lat = [r["build_s"] + r["exec_s"] for r in _later(result) if r["ok"]]
    q_tail, q_pct, q_n = tail(lat)
    # The median query's latency: each query's median over the later passes,
    # then the median over queries. Pooling the runs instead puts the median
    # on the edge between two queries' clusters when there are few queries.
    per_query: dict[str, list[float]] = {}
    for r in _later(result):
        if r["ok"]:
            per_query.setdefault(r["query"], []).append(r["build_s"] + r["exec_s"])
    p_tail, p_pct, p_n = tail(later_walls)
    metrics = {
        "setup_s": (result["setup_s"], "s"),
        "first_pass_s": (result["passes"][0]["wall_s"], "s"),
        "pass_s": (median(later_walls), "s"),
        "query_p50_s": (median(median(v) for v in per_query.values()), "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }
    notes = [
        f"pass_s: median of {p_n} later passes; tail p{p_pct:g} = {p_tail:.4f} s;"
        f" all passes {[round(p['wall_s'], 3) for p in result['passes']]}",
        f"query_tail_s = {q_tail:.4f} s: p{q_pct:g} of {q_n} query runs",
        f"check_s = {result['check_s']:.3f} s (untimed output check)",
        f"peak_rss_mb = {result['peak_rss_mb']:.1f} MB (driver JVM + Python)",
    ]
    return metrics, notes


def per_layer(result: dict, groups: dict[str, dict], untraced_pass_s: float) -> dict:
    """Per-layer metrics of a traced result, as means per later pass, from
    the worker's timings and the event-log figures of the later passes."""
    n_pass = sum(1 for p in result["passes"] if p["pass"] >= 1)
    m = {k: 0.0 for k in per_layer_metric_names()}
    for r in _later(result):
        layer = r["layer"]
        m[f"{layer}.build_s"] += r.get("build_s", 0.0)
        m[f"{layer}.exec_s"] += r.get("exec_s", 0.0)
        m[f"{layer}.jobs"] += r["jobs_build"] + r["jobs_exec"]
        m["session.leaked_persists"] += r["persisted_rdds"]
    layer_of_query = {r["query"]: r["layer"] for r in result["runs"]}
    for group, agg in groups.items():
        parts = group.split(":")
        if len(parts) != 3 or parts[1] not in layer_of_query:
            continue
        layer = layer_of_query[parts[1]]
        for k in ("shuffle_bytes", "spill_bytes", "python_s"):
            m[f"{layer}.{k}"] += agg[k]
    for k in m:
        if k.rsplit(".", 1)[0] in LAYERS or k == "session.leaked_persists":
            m[k] /= n_pass
    fixed = result["fixed_costs"]
    m["session.start_s"] = result["start_s"]
    m["tables.layout_write_s"] = sum(v for k, v in fixed.items() if k.startswith("bkt:"))
    m["ckpt.components_build_s"] = sum(
        v for k, v in fixed.items() if k.split(":")[0].endswith("components")
    )
    traced_pass_s = median([p["wall_s"] for p in result["passes"] if p["pass"] >= 1])
    m["trace.overhead_s"] = traced_pass_s - untraced_pass_s
    return m


def per_query(result: dict, groups: dict[str, dict]) -> dict[str, dict]:
    """Per-query execution record of a traced result: wall times and the
    event-log figures of its build and exec job groups, summed over the
    later passes (``passes`` of them)."""
    n_pass = sum(1 for p in result["passes"] if p["pass"] >= 1)
    out: dict[str, dict] = {}
    for r in _later(result):
        q = out.setdefault(
            r["query"],
            {"layer": r["layer"], "passes": n_pass, "build_s": 0.0, "exec_s": 0.0},
        )
        q["build_s"] += r.get("build_s", 0.0)
        q["exec_s"] += r.get("exec_s", 0.0)
    for name, q in out.items():
        for phase in ("build", "exec"):
            q[phase] = groups.get(f"{result['workload']}:{name}:{phase}", {})
    return out


UNITS = {
    "build_s": "s",
    "exec_s": "s",
    "python_s": "s",
    "jobs": "count",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "start_s": "s",
    "layout_write_s": "s",
    "components_build_s": "s",
    "leaked_persists": "count",
    "overhead_s": "s",
}


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    data = datagen.ensure_tables(os.path.join(WORK, "data"), wl.scale, wl.copies)
    expected = load_expected()

    result, _ = run_worker(args.workload, args.seed, args.seconds, data, traced=False)
    metrics, notes = end_to_end(result)
    bad = check_outputs(args.workload, result, expected)
    out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    runs = list(result["runs"])

    if args.trace:
        # the same seed right after the untraced run, so the overhead is
        # the difference of two like runs
        traced, trace = run_worker(args.workload, args.seed, args.seconds, data, traced=True)
        bad.update(check_outputs(args.workload, traced, expected))
        runs += traced["runs"]
        groups = eventlog.by_group(trace, *traced["later_window_ms"])
        untraced_pass_s = metrics["pass_s"][0]
        notes += [f"untraced {k} = {v:.6g} {u}" for k, (v, u) in metrics.items()]
        layer = per_layer(traced, groups, untraced_pass_s)
        out_metrics = {
            k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[1]]} for k, v in layer.items()
        }
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.json"
        )
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "metrics": layer,
                    "untraced_pass_s": untraced_pass_s,
                    "queries": per_query(traced, groups),
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"# trace artifact: {os.path.relpath(path, ROOT)}", file=sys.stderr)

    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"] or r["query"] in bad)
    for name, why in bad.items():
        print(f"# FAILED {name}: {why}", file=sys.stderr)
    for k, v in out_metrics.items():
        print(f"# {args.workload} {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    for n in notes:
        print(f"# {n}", file=sys.stderr)
    print(f"# failed_frac = {failed}/{attempted} = {failed / attempted:.4f}", file=sys.stderr)
    print(
        json.dumps(
            {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics}
        )
    )
    return 0 if not bad and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
