#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload once on tiny
inputs (scale 0.001, one measured round or one second of stream), with
the correctness gate on.  Checks the exit code, the verdict and that the
printed metric names and units are exactly those of BENCHMARK.json.

    python3 perfbench/smoke.py        # from the repository root; ~3 min
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (workload, trace) pairs: every workload traced, plus one untraced run
RUNS = [("community_sql", 1), ("curation_batch", 1), ("commit_stream", 1),
        ("commit_stream", 0)]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    missing = {w for w, _ in RUNS} - {w["name"] for w in spec["workloads"]}
    if missing:
        print(f"workloads missing from BENCHMARK.json: {sorted(missing)}")
        return 1
    bad = 0
    for workload, trace in RUNS:
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
               "--seed", "7", "--seconds", "1", "--trace", str(trace),
               "--scale", "0.001"]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              timeout=600)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = None
        problems = []
        if proc.returncode != 0:
            problems.append(f"exit code {proc.returncode}")
        if not res or not res.get("correct") or res.get("failed"):
            problems.append("verdict not correct")
        elif {k: v["unit"] for k, v in res["metrics"].items()} != want[trace]:
            problems.append("metric names or units differ from BENCHMARK.json")
        status = "ok" if not problems else "FAIL " + "; ".join(problems)
        print(f"{workload:15s} trace={trace}: {status}")
        if problems:
            bad += 1
            print(proc.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
