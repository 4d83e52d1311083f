"""Compare two sets of benchmark sidecars.

    python3 perfbench/compare.py <A> <B>

``A`` and ``B`` are sidecar files or directories of them (for example two
copies of ``.bench_build/perfbench/sidecars``).  Every number is
recomputed from the sidecars' raw samples.  Per workload, each metric is
shown as median [q1, q3] for A and B; a ``*`` marks a B median outside
A's quartiles.  Deterministic counts (Spark jobs per call, Python
operators, exchanges, rows out) are listed apart from the timings: for the
same code and inputs they repeat exactly, so any change is a real change
and not noise.  Sidecars from different hosts are refused.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import summary  # noqa: E402

HOST_KEYS = ("nproc", "cores", "mem_gb", "cpu_model", "spark")


def load(path: str) -> list:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    sides = []
    for f in files:
        with open(f) as fh:
            sides.append(json.load(fh))
    return sides


def quartiles(values: list) -> tuple:
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def group(sides: list) -> dict:
    """{(workload, trace): {metric: [values...]}}"""
    out: dict = {}
    for side in sides:
        key = (side["workload"], int(side["trace"] is not None))
        metrics = out.setdefault(key, {})
        for name, m in summary.report(side).items():
            metrics.setdefault(name, []).append(float(m["value"]))
    return out


def host_of(sides: list) -> set:
    return {tuple(s["host"].get(k) for k in HOST_KEYS) for s in sides}


def compare(a_sides: list, b_sides: list) -> list:
    """Report lines; raises ValueError for sidecars of different hosts."""
    hosts = host_of(a_sides) | host_of(b_sides)
    if len(hosts) != 1:
        raise ValueError(f"sidecars come from different hosts: {sorted(hosts)}")
    a, b = group(a_sides), group(b_sides)
    lines = []
    for key in sorted(set(a) & set(b)):
        workload, trace = key
        lines.append(f"== {workload} (trace={trace}): A n={len(next(iter(a[key].values())))}, "
                     f"B n={len(next(iter(b[key].values())))}")
        counts = []
        for name in sorted(set(a[key]) & set(b[key])):
            va, vb = a[key][name], b[key][name]
            if name.endswith(summary.DETERMINISTIC_SUFFIXES):
                if len(set(va)) > 1 or len(set(vb)) > 1:
                    counts.append(f"  {name}: not constant within a set (A {sorted(set(va))}, B {sorted(set(vb))})")
                elif va[0] != vb[0]:
                    counts.append(f"  {name}: {va[0]:g} -> {vb[0]:g}")
                continue
            qa, qb = quartiles(va), quartiles(vb)
            mark = "*" if not qa[0] <= qb[1] <= qa[2] else " "
            rel = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            lines.append(f" {mark}{name}: A {qa[1]:.6g} [{qa[0]:.6g}, {qa[2]:.6g}]  "
                         f"B {qb[1]:.6g} [{qb[0]:.6g}, {qb[2]:.6g}]  {rel:+.1%}")
        lines.append("  deterministic counts changed:" if counts else "  deterministic counts: unchanged")
        lines.extend(counts)
    for key in sorted(set(a) ^ set(b)):
        lines.append(f"== {key[0]} (trace={key[1]}): only in {'A' if key in a else 'B'}")
    return lines


def main(argv: list) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a_sides, b_sides = load(argv[0]), load(argv[1])
    if not a_sides or not b_sides:
        print("no sidecars found", file=sys.stderr)
        return 2
    try:
        lines = compare(a_sides, b_sides)
    except ValueError as e:
        print(f"refusing to compare: {e}", file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
