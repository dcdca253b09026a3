"""Compare two result sets of the benchmark (parent and change).

Usage: python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl

Each file holds the records ``run.py --out`` appends. For every
workload the untraced runs give each end-to-end metric's median and
quartiles on both sides and the share of pairs the change won (runs
are paired by seed, ties count for neither side); the traced runs give
each per-layer metric's median on both sides and the change, printed
beside them so a regression arrives with its cause.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path: str) -> dict[tuple[str, int], list[dict]]:
    """(workload, trace) -> run records."""
    out: dict[tuple[str, int], list[dict]] = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                ctx = rec["context"]
                out.setdefault((ctx["workload"], ctx["trace"]), []).append(rec)
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def metric(rec: dict, name: str) -> float | None:
    m = rec["result"]["metrics"].get(name)
    return None if m is None else m["value"]


def pairs_won(parent: list[dict], change: list[dict], name: str, lower: bool) -> str:
    by_seed = {r["context"]["seed"]: metric(r, name) for r in parent}
    pairs = [(by_seed[r["context"]["seed"]], metric(r, name))
             for r in change if r["context"]["seed"] in by_seed]
    if not pairs:  # no common seeds: pair in run order
        pairs = list(zip([metric(r, name) for r in parent],
                         [metric(r, name) for r in change]))
    won = sum(1 for p, c in pairs if (c < p if lower else c > p))
    return f"{won}/{len(pairs)}"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {m["name"]: m["better"] == "lower"
              for m in spec["end_to_end"] + spec["per_layer"]}
    parent, change = load(argv[0]), load(argv[1])
    for workload in sorted({w for w, _ in parent} | {w for w, _ in change}):
        print(f"== {workload}")
        p_runs, c_runs = parent.get((workload, 0), []), change.get((workload, 0), [])
        if p_runs and c_runs:
            print(f"  end to end ({len(p_runs)} parent runs, {len(c_runs)} change runs)")
            print(f"  {'metric':28s} {'parent q1/med/q3':>28s} {'change q1/med/q3':>28s}"
                  f" {'change':>8s} {'won':>6s}")
            for m in spec["end_to_end"]:
                name = m["name"]
                pv = [v for v in (metric(r, name) for r in p_runs) if v is not None]
                cv = [v for v in (metric(r, name) for r in c_runs) if v is not None]
                if not pv or not cv:
                    continue
                pq, cq = quartiles(pv), quartiles(cv)
                delta = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
                print(f"  {name:28s} {'/'.join(f'{x:.4g}' for x in pq):>28s}"
                      f" {'/'.join(f'{x:.4g}' for x in cq):>28s} {delta:+8.1%}"
                      f" {pairs_won(p_runs, c_runs, name, better.get(name, True)):>6s}")
        p_tr, c_tr = parent.get((workload, 1), []), change.get((workload, 1), [])
        if p_tr and c_tr:
            print(f"  per layer ({len(p_tr)} parent traced runs, {len(c_tr)} change)")
            names = [m["name"] for m in spec["per_layer"]]
            for name in names:
                pv = [v for v in (metric(r, name) for r in p_tr) if v is not None]
                cv = [v for v in (metric(r, name) for r in c_tr) if v is not None]
                if not pv or not cv:
                    continue
                pm, cm = statistics.median(pv), statistics.median(cv)
                rel = f"{(cm - pm) / pm:+.1%}" if pm else ""
                print(f"  {name:32s} {pm:12.4g} -> {cm:12.4g} {cm - pm:+12.4g} {rel:>8s}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
