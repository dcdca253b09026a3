"""Smoke test of the benchmark itself.

Usage: python3 perfbench/smoke.py [workload ...]   (default: all four)

For each workload, one short untraced run and one short traced run must
print a correct result with every metric BENCHMARK.json names, each
with its unit. Then a dfs_ingest run with a corrupted chunk and a
vector_search run with a dropped result row must each count a failure.
Takes several minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from run import HERE, ROOT, WORKLOADS


def run(workload: str, trace: int, fault: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    if fault:
        cmd.append("--inject-fault")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in argv or WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{workload} trace={trace}: metrics/units {got} != {want}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{workload} trace={trace}: {res['failed']} failed")
            print(f"{workload} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations, correct={res['correct']}", flush=True)
    for workload in ("dfs_ingest", "vector_search"):
        res = run(workload, 0, fault=True)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{workload} with an injected fault counted no failure")
        print(f"{workload} with an injected fault: {res['failed']} failed", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
