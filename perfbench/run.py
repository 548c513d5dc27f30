#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
then starts one JVM that generates the seeded inputs, sets up, warms up,
runs the timed schedule and checks the outputs. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics (a layer the workload never calls reports 0);
a traced run also leaves its spans in .bench_build/perfbench/spans/.

Extra options: --size small (tiny inputs, for the self-test) and
--corrupt 1 (perturb one result before the output checks, which must then
fail).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project"), os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile engine + benchmark with sbt unless this source tree was
    already built; returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here ({need} missing): cannot build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.offline=true -Xmx3g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dperfbench.classpath={cp_file}", "compile", "writeClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    with open(cp_file) as fh:
        return fh.read().strip()


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--size", args.size, "--corrupt", str(args.corrupt),
              "--cpus", str(cpus), "--work", work]
           + (["--spans", spans_file(args)] if args.trace else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                             stderr=err, stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            with open(log) as fh:
                sys.stderr.write("".join(x for x in fh if x.startswith("[perfbench]"))[-4000:])
            fail(f"{args.workload} did not finish in {JVM_TIMEOUT_S} s", 1)
    with open(log) as fh:
        text = fh.read()
    if p.returncode != 0:
        sys.stderr.write(text[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}", 1)
    # the JVM's progress lines, for whoever watches stderr
    sys.stderr.write("".join(x + "\n" for x in text.splitlines() if x.startswith("[perfbench]")))
    return out


def spans_file(args):
    d = os.path.join(BUILD, "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-{args.seed}.jsonl")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "small"), default="full")
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cp = build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH "):
            result = json.loads(line[len("PERFBENCH "):])
        elif line.startswith("[perfbench]"):
            print(line)
    if result is None:
        fail("the benchmark JVM printed no result", 1)
    got = result["metrics"]
    if args.trace:
        # the traced run's own end-to-end figures, to set against an
        # untraced run of the same seed (the tracing overhead)
        traced = {m["name"]: got[m["name"]]["value"]
                  for m in spec["end_to_end"] if m["name"] in got}
        print("[perfbench] traced end-to-end: " + json.dumps(traced, sort_keys=True))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] in got and got[m["name"]]["value"] is not None:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif args.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"end-to-end metric {m['name']} missing from the run", 1)
    correct = bool(result["correct"])
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": metrics if correct else {}}))
    sys.exit(0 if correct else 3)


if __name__ == "__main__":
    main()
