#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at tiny scale, untraced and
traced. Asserts that each run passes its correctness checks and prints
every metric BENCHMARK.json names, with its unit. Run from the repository
root:

  python3 perfbench/smoke.py
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7",
                                     "--seconds", "2", "--trace", str(trace),
                                     "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            tag = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-1500:]}")
                continue
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']} {lines[-2][:500]}")
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} is {got}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
            print(f"ok {tag}" if not problems else f"checked {tag}", flush=True)
    if problems:
        print("\n".join(problems))
        sys.exit(1)
    print("smoke: all workloads print every metric")


if __name__ == "__main__":
    main()
