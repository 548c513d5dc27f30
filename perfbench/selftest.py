#!/usr/bin/env python3
"""Small-size self-test of every workload.

    python3 perfbench/selftest.py [workload ...]

For each workload, at --size small:
  * an untraced run must pass its output checks and print every end-to-end
    metric of BENCHMARK.json with its unit;
  * a traced run must print every per-layer metric with its unit;
  * a run with --corrupt 1 (one result perturbed before the checks) must
    report correct=false, no metrics, and exit non-zero.
Exits 0 only if all of these hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, *extra):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "1",
                        "--size", "small", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]), p
    except (IndexError, json.JSONDecodeError):
        return p.returncode, None, p


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    problems = []
    for w in workloads:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, res, p = run(w, "--trace", str(trace))
            if code != 0 or res is None or not res["correct"]:
                problems.append(f"{w} trace={trace}: exit {code}, result {res}\n{p.stderr[-2000:]}")
                continue
            for m in spec[kind]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} missing or bad: {got}")
            if res["attempted"] < 1 or res["failed"] != 0:
                problems.append(f"{w}: attempted={res['attempted']} failed={res['failed']}")
        code, res, p = run(w, "--trace", "0", "--corrupt", "1")
        if code == 0 or res is None or res["correct"] or res["metrics"]:
            problems.append(f"{w}: corrupted result was not caught (exit {code}, {res})")
        elif "CHECK FAILED" not in p.stdout:
            problems.append(f"{w}: corrupted run failed without naming its check")
        print(f"{w}: {'ok' if not any(x.startswith(w) for x in problems) else 'FAILED'}")
    for x in problems:
        print("PROBLEM:", x)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
