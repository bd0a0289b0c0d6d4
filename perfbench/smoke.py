"""Smoke self-test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py [WORKLOAD ...]

Runs ``run.py --scale tiny`` for each workload, untraced and traced, and
checks that the last stdout line is a correct result carrying every
metric BENCHMARK.json declares, each a number with the declared unit.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(workload: str, trace: int, bench: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        problems.append(f"correct={res['correct']} attempted={res['attempted']} "
                        f"failed={res['failed']}")
    declared = bench["per_layer" if trace else "end_to_end"]
    if set(res["metrics"]) != {m["name"] for m in declared}:
        problems.append("metric names differ from BENCHMARK.json")
    for m in declared:
        got = res["metrics"].get(m["name"], {})
        v = got.get("value")
        if got.get("unit") != m["unit"]:
            problems.append(f"{m['name']}: unit {got.get('unit')!r} != {m['unit']!r}")
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"{m['name']}: value {v!r} is not a finite number")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for name in names:
        for trace in (0, 1):
            problems = check(name, trace, bench)
            print(f"{name} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            if problems:
                return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
