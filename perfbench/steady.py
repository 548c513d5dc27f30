#!/usr/bin/env python3
"""Steadiness run: are two sets of runs of the same code in agreement?

    python3 perfbench/steady.py [--out FILE] [workload ...]
    python3 perfbench/steady.py --from FILE   # re-judge a record against BENCHMARK.json

Two sets, each running every workload 10 times, each run with its own seed
(100 + i in the first set, 1100 + i in the second), alternating the workload
order from run to run, plus one traced run per workload (seeded like the
set's first run). For every end-to-end metric it reports each set's median,
quartiles and spread (interquartile range as a share of the median), and
whether

  * each set's spread is within the metric's bound,
  * the two sets' medians differ by no more than the bound, in either
    direction.

The tracing overhead is the traced run's end-to-end figures against the
untraced run of the same seed. The JSON record goes to --out (default:
perfbench/baseline/steadiness.json); a summary table goes to stdout.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2
SEED_BASE = 100


def one(spec, workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
           "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    traced = None
    for line in lines:
        if line.startswith("[perfbench] traced end-to-end: "):
            traced = json.loads(line.split(": ", 1)[1])
    if res is None or not res["correct"]:
        sys.stderr.write(f"{workload} seed {seed} trace {trace} failed:\n"
                         f"{p.stdout[-2000:]}\n{p.stderr[-2000:]}\n")
    print(f"  {workload:13s} seed={seed:<6d} trace={trace} {wall:6.1f} s "
          f"{'ok' if res and res['correct'] else 'FAILED'}", flush=True)
    return res, traced, wall


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def cpu_model():
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "baseline", "steadiness.json"))
    ap.add_argument("--from", dest="source", help="re-judge this record, run nothing")
    ap.add_argument("workloads", nargs="*")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.source:
        with open(args.source) as fh:
            report = json.load(fh)
        values = {w: {name: [st["values"] for st in per["sets"]] for name, per in ms.items()}
                  for w, ms in report["workloads"].items()}
        ok = judge(report, values, spec, report["failed_runs"] == 0)
        write(report, args.source, ok)
        return
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]

    sets, overhead, walls, failures = [], {}, {}, 0
    for s in range(SETS):
        print(f"set {s + 1}/{SETS}", flush=True)
        runs = {w: [] for w in workloads}
        for i in range(RUNS):
            order = workloads if (i + s) % 2 == 0 else list(reversed(workloads))
            for w in order:
                seed = SEED_BASE + 1000 * s + i
                res, _, wall = one(spec, w, seed, 0)
                walls.setdefault(w, []).append(wall)
                if res and res["correct"]:
                    runs[w].append((seed, res))
                else:
                    failures += 1
        for w in workloads:
            if not runs[w]:
                continue
            seed, base = runs[w][0]
            res, traced, wall = one(spec, w, seed, 1)
            walls.setdefault(w + " (traced)", []).append(wall)
            if traced:
                overhead.setdefault(w, []).append({
                    k: traced[k] / base["metrics"][k]["value"] - 1
                    for k in traced if base["metrics"][k]["value"]})
        sets.append(runs)

    report = {"hardware": {"cpus": len(os.sched_getaffinity(0)), "cpu": cpu_model()},
              "run_seconds": spec["run_seconds"], "runs_per_set": RUNS,
              "failed_runs": failures, "workloads": {}, "tracing_overhead": overhead,
              "wall_s_median": {w: statistics.median(v) for w, v in walls.items()}}
    values = {w: {m["name"]: [[r["metrics"][m["name"]]["value"] for _, r in st[w]] for st in sets]
                  for m in spec["end_to_end"]} for w in workloads}
    ok = judge(report, values, spec, failures == 0)
    write(report, args.out, ok)


def judge(report, values, spec, ok):
    """Fill report["workloads"] from raw values [set][run] per workload and
    metric; returns whether every metric is steady and the sets agree."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    report["workloads"] = {}
    print(f"\n{'workload':13s} {'metric':27s} " +
          " ".join(f"{'set' + str(i + 1) + ' median':>14s} {'spread':>7s}"
                   for i in range(SETS)) + "  bound  verdict")
    for w, ms in values.items():
        per = {}
        for name, m in bounds.items():
            sums = [summary(v) for v in ms.get(name, []) if len(v) >= 2]
            if len(sums) < SETS:
                ok = False
                continue
            first, last = sums[0]["median"], sums[-1]["median"]
            worse = (last - first) / first if m["better"] == "lower" else (first - last) / first
            spread_ok = all(x["spread"] <= m["bound"] for x in sums)
            agree = abs(last - first) / first <= m["bound"]
            steady = all(x["spread"] <= m["bound"] / 3 for x in sums)
            per[name] = {"sets": sums, "bound": m["bound"], "second_vs_first_worse": worse,
                         "spread_within_bound": spread_ok, "sets_agree": agree,
                         "spread_below_third_of_bound": steady}
            ok &= spread_ok and agree
            print(f"{w:13s} {name:27s} " +
                  " ".join(f"{x['median']:14.4f} {x['spread']:7.3f}" for x in sums) +
                  f"  {m['bound']:.2f}  {'ok' if spread_ok and agree else 'NOT STEADY'}"
                  f"{'' if steady else ' (spread > bound/3)'}")
        report["workloads"][w] = per
    return ok


def write(report, path, ok):
    report["steady"] = ok
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    print(f"\nsteady: {ok}; record written to {os.path.relpath(path, ROOT)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
