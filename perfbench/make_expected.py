"""Regenerate ``expected.json``, the outputs ``run.py`` checks against.

    python3 perfbench/make_expected.py [--seeds 0,1,2] [--cpus 4,2,1]

Runs every workload once per seed (a different query order each time), the
i-th run on the i-th CPU count (which sets Spark's task slots, shuffle
partitions and file splits), with a one-second window, and records each
query's row count and content hash. A query whose row count differs between
runs is an error; one whose content hash differs is not reproducible and is
listed under ``rows_only``, so the check compares its row count only. Run it only on a commit whose outputs are
known to be right: the file defines what "correct" means for later commits.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0,1,2")
    ap.add_argument("--cpus", default="4,2,1")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]
    cpus = [int(c) for c in args.cpus.split(",")]
    if len(cpus) != len(seeds):
        raise SystemExit("--cpus needs one count per seed")
    # runs on fewer cores take longer than the benchmark's own deadline
    run.DEADLINE_S = 3600

    workloads: dict[str, dict] = {}
    rows_only: set[str] = set()
    for name, wl in run.WORKLOADS.items():
        data = run.datagen.ensure_tables(os.path.join(run.WORK, "data"), wl.scale, wl.copies)
        seen: dict[str, set[tuple[int, str]]] = {}
        for seed, n in zip(seeds, cpus):
            result, _ = run.run_worker(name, seed, 1.0, data, traced=False, cpus=n)
            for q, got in result["checks"].items():
                if "error" in got:
                    raise SystemExit(f"{name}/{q} failed: {got['error']}")
                seen.setdefault(q, set()).add((got["rows"], got["hash"]))
            print(f"# {name} seed {seed} on {n} cpus done", file=sys.stderr)
        out = {}
        for q, outs in sorted(seen.items()):
            if len({r for r, _ in outs}) != 1:
                raise SystemExit(f"{name}/{q}: row count differs between runs: {sorted(outs)}")
            if len(outs) != 1:
                rows_only.add(q)
            rows, digest = min(outs)
            out[q] = {"rows": rows, "hash": digest}
        workloads[name] = out

    path = os.path.join(run.HERE, "expected.json")
    with open(path, "w") as f:
        json.dump({"rows_only": sorted(rows_only), "workloads": workloads}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}; rows-only: {sorted(rows_only)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
