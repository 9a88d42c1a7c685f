#!/usr/bin/env python3
"""Compare two sets of benchmark results metric by metric, workload by
workload.

    python3 perfbench/diff.py BEFORE AFTER [--trace 0|1]

BEFORE and AFTER are result files written by ``run.py``
(``.perfbench_out/result-<workload>-<seed>-trace<t>.json``) or directories
holding them. For each workload and metric the tool prints the median of
each side, the change as a share of BEFORE's median, and BEFORE's own
spread (quartile distance over median). An end-to-end metric whose
median got worse by more than its bound in ``BENCHMARK.json`` is marked
``WORSE``; a change inside BEFORE's spread is marked ``~``. Per-layer
metrics and the wall-clock figures of untraced runs have no bound and are
only listed. Comparing an untraced set (``--trace 0``) with a traced one
shows the tracing overhead: run the tool once per mode and set the
``wall.*`` rows side by side.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def load(path: Path, trace: int) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, from result files under ``path``."""
    files = sorted(path.glob("result-*.json")) if path.is_dir() else [path]
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for f in files:
        rec = json.loads(f.read_text())
        if rec["trace"] != trace or not rec["result"]["correct"]:
            continue
        for name, m in rec["result"]["metrics"].items():
            out[rec["workload"]][name].append(m["value"])
        if trace == 0:  # the ungated wall-clock figures every run also records
            for name, value in rec.get("wall", {}).items():
                out[rec["workload"]][name].append(value)
    return out


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q[2] - q[0]) / med if med else 0.0


def compare(before, after, spec: dict) -> list[str]:
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    lines = []
    for workload in sorted(set(before) | set(after)):
        lines.append(f"== {workload}")
        lines.append(f"  {'metric':<48} {'before':>14} {'after':>14} {'change':>8} {'spread':>7}")
        for name in sorted(set(before[workload]) | set(after[workload])):
            b, a = before[workload].get(name, []), after[workload].get(name, [])
            if not b or not a:
                lines.append(f"  {name:<48} {'missing on one side':>38}")
                continue
            mb, ma = statistics.median(b), statistics.median(a)
            change = (ma - mb) / mb if mb else 0.0
            worse = change if better.get(name, "lower") == "lower" else -change
            flag = ""
            if name in e2e and worse > e2e[name]["bound"]:
                flag = "WORSE"
            elif abs(change) <= spread(b):
                flag = "~"
            lines.append(f"  {name:<48} {mb:>14.4g} {ma:>14.4g} {change:>+8.1%} {spread(b):>7.1%} {flag}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("before", type=Path)
    p.add_argument("after", type=Path)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    print("\n".join(compare(load(args.before, args.trace), load(args.after, args.trace), spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
