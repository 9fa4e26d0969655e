#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke_test.py        (from the repository root)

Every workload runs once untraced and once traced. Each run must finish
correct, with no failed operation, and emit every metric BENCHMARK.json
names for its mode. A traced pipeline run is correct only if replaying
DailyRun.run's calls in spans left the same tables as DailyRun.run itself.
"""
import json
import os
import subprocess
import sys

TINY = {
    "psn_daily_small": ["--titles", "300", "--warm", "1", "--days", "4"],
    "psn_daily_large": ["--titles", "3000", "--warm", "1", "--days", "4"],
    "registry_mix": ["--passes", "2"],
}


def main():
    spec = json.load(open("BENCHMARK.json"))
    names = {w["name"] for w in spec["workloads"]}
    assert names == set(TINY), f"workloads {sorted(names)} != {sorted(TINY)}"
    failures = 0
    for workload, sizes in TINY.items():
        for trace in (0, 1):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace)] + sizes
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            problems = []
            if r.returncode != 0 or not lines:
                problems.append(f"exit {r.returncode}: {r.stderr[-2000:]}")
            else:
                res = json.loads(lines[-1])
                want = spec["per_layer" if trace else "end_to_end"]
                missing = [m["name"] for m in want if m["name"] not in res["metrics"]]
                if missing:
                    problems.append(f"missing metrics {missing}")
                if set(res["metrics"]) - {m["name"] for m in want}:
                    problems.append("metrics not in BENCHMARK.json")
                if not res["correct"] or res["failed"] or res["attempted"] < 1:
                    problems.append(f"correct={res['correct']} failed={res['failed']} "
                                    f"attempted={res['attempted']}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{workload:16s} trace={trace}: {status}")
            failures += bool(problems)
    print(f"== {failures} failing ==")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
