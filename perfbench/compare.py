"""Compare benchmark results of two commits.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds the records ``run.py`` appends to
``perfbench/.work/results.jsonl`` (one JSON object per run).  Per
workload and end-to-end metric it prints each side's median and
quartiles, the pairs the change won (runs paired by seed) and whether
the medians differ by more than the parent's interquartile spread.
Traced runs add the per-layer medians and their deltas, and the tracing
overhead of each side (traced ``trace.pass_s`` over untraced
``pass_s``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[tuple, dict[int, dict[str, float]]]:
    """(workload, trace) -> seed -> metric -> value (the last run of a
    seed wins)."""
    out: dict[tuple, dict[int, dict[str, float]]] = defaultdict(dict)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
                out[(rec["workload"], rec["trace"])][rec["seed"]] = metrics
    return out


def directions() -> dict[str, str]:
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def compare_metric(name, parent, change, better) -> str:
    p, c = list(parent.values()), list(change.values())
    pq, cq = quartiles(p), quartiles(c)
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(parent) & set(change))
    won = sum(1 for s in seeds if sign * (change[s] - parent[s]) > 0)
    delta = cq[1] - pq[1]
    iqr = pq[2] - pq[0]
    if abs(delta) <= iqr:
        verdict = "within parent spread"
    else:
        verdict = "better" if sign * delta > 0 else "worse"
    rel = f"{delta / pq[1]:+.1%}" if pq[1] else "n/a"
    return (
        f"  {name:30s} parent {pq[1]:11.4f} [{pq[0]:.4f}, {pq[2]:.4f}]"
        f"  change {cq[1]:11.4f} [{cq[0]:.4f}, {cq[2]:.4f}]"
        f"  {rel:>7s}  won {won}/{len(seeds)}  {verdict}"
    )


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[0]), load(argv[1])
    better = directions()
    for workload in sorted({w for w, _ in parent} | {w for w, _ in change}):
        print(f"{workload}")
        for trace, title in ((0, "end-to-end"), (1, "per-layer")):
            p, c = parent.get((workload, trace), {}), change.get((workload, trace), {})
            if not p or not c:
                continue
            print(f" {title} ({len(p)} parent runs, {len(c)} change runs)")
            names = [n for n in next(iter(p.values())) if any(n in m for m in c.values())]
            for name in names:
                pv = {s: m[name] for s, m in p.items() if name in m}
                cv = {s: m[name] for s, m in c.items() if name in m}
                if trace and not any(pv.values()) and not any(cv.values()):
                    continue
                print(compare_metric(name, pv, cv, better.get(name, "lower")))
        for side, runs in (("parent", parent), ("change", change)):
            plain, traced = runs.get((workload, 0), {}), runs.get((workload, 1), {})
            if plain and traced:
                base = statistics.median(m["pass_s"] for m in plain.values())
                with_trace = statistics.median(m["trace.pass_s"] for m in traced.values())
                print(f" tracing overhead ({side}): {with_trace / base - 1:+.1%} of pass_s {base:.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
