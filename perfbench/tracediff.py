"""Diff two traced-run artifacts layer by layer.

    python3 perfbench/tracediff.py BEFORE.json AFTER.json

Artifacts are the files ``run.py --trace 1`` writes under
``.perfbench/traces/``. Prints one row per per-layer metric that is non-zero
in either artifact, then one row per query present in both, with the change
as an absolute difference and, where the base is non-zero, a ratio.
"""

from __future__ import annotations

import json
import sys


def _row(name: str, a: float, b: float) -> str:
    ratio = f"{b / a:8.3f}x" if a else "        -"
    return f"{name:44s} {a:14.6g} {b:14.6g} {b - a:+14.6g} {ratio}"


def diff(before: dict, after: dict) -> list[str]:
    lines = [f"{'metric':44s} {'before':>14s} {'after':>14s} {'delta':>14s}    ratio"]
    ma, mb = before["metrics"], after["metrics"]
    for name in sorted(set(ma) | set(mb)):
        a, b = ma.get(name, 0.0), mb.get(name, 0.0)
        if a or b:
            lines.append(_row(name, a, b))
    qa, qb = before.get("queries", {}), after.get("queries", {})
    shared = sorted(set(qa) & set(qb))
    if shared:
        lines.append("")
        lines.append(f"{'query (per later pass)':44s} {'before':>14s} {'after':>14s} {'delta':>14s}    ratio")
    for q in shared:
        a, b = qa[q], qb[q]
        for key in ("build_s", "exec_s"):
            lines.append(_row(f"{q}.{key}", a[key] / a["passes"], b[key] / b["passes"]))
        for phase in ("build", "exec"):
            for key in ("jobs", "shuffle_bytes", "python_s"):
                va = a[phase].get(key, 0) / a["passes"]
                vb = b[phase].get(key, 0) / b["passes"]
                if va or vb:
                    lines.append(_row(f"{q}.{phase}.{key}", va, vb))
    return lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    if before.get("workload") != after.get("workload"):
        print(
            f"# note: workloads differ ({before.get('workload')} vs {after.get('workload')})",
            file=sys.stderr,
        )
    print("\n".join(diff(before, after)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
