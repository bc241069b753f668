#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the benchmark (see build.py); later runs reuse the build.
The measuring itself happens in one JVM (`perfbench.Main`, local Spark with
one worker thread per core); this script builds, starts that JVM, bounds its
run time, and passes its result line through. See README.md for the
workloads and metrics.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("etl_daily", "index_lifecycle")
RUN_TIMEOUT_S = 170
# Per-layer metrics of layers only one workload exercises, by name prefix;
# the other workload reports them as 0.
OWNED = {"etl_daily.": "etl_daily", "index_cdc.": "index_lifecycle",
         "index_serve.": "index_lifecycle",
         "setup.index_write.": "index_lifecycle"}


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if a.seconds < 1:
        p.error("--seconds must be at least 1")
    return a


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this kind
    of run: the single list of the benchmark's metrics."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"])
            for m in spec["per_layer" if trace else "end_to_end"]]


def result_line(jvm, declared, workload):
    """The JVM's result with the declared metrics, in declared order and
    with their units. A declared metric the JVM did not measure reads 0
    when another workload owns its layer; otherwise it is an error."""
    measured = jvm["metrics"]
    metrics = {}
    for name, unit in declared:
        if name in measured:
            value = measured[name]
        elif any(name.startswith(p) and w != workload
                 for p, w in OWNED.items()):
            value = 0
        else:
            raise KeyError(f"the JVM did not measure {name}")
        metrics[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": jvm["correct"], "attempted": jvm["attempted"],
                       "failed": jvm["failed"], "metrics": metrics})


def main():
    a = parse()
    try:
        declared = declared_metrics(a.trace)
        built = build.build_dir()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD, "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java(built, os.path.join(work, "tmp"), "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--traces", os.path.join(build.BUILD, "traces")])
    # Spark's scratch space stays inside the checkout, whatever the caller's
    # environment says
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                            text=True, start_new_session=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("[perfbench] run did not finish in time", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}",
              file=sys.stderr)
        return proc.returncode or 4
    try:
        line = result_line(json.loads(lines[-1]), declared, a.workload)
    except (ValueError, KeyError, TypeError) as e:
        print(f"[perfbench] no usable result line: {e}", file=sys.stderr)
        return 4
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
