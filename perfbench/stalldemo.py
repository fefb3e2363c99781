#!/usr/bin/env python3
"""Stall-separation demo: the same traced run, alone and beside CPU burners.

    python3 perfbench/stalldemo.py

Runs `run.py --workload query_floor --seed 1 --trace 1` once quietly and
once with 4 `yes > /dev/null` processes competing for the cores, then
prints both runs' wall times, the in-band stall evidence (loadavg, runnable
processes) and the counts and CPU time that should not move: job/stage/task
counts and shuffle bytes equal, executor CPU within ~15 %.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD = "query_floor"
SEED = 1
BURNERS = 4

SAME = ["spark.jobs", "spark.stages", "spark.tasks",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes"]
CLOSE = ["spark.executor_cpu_s"]
SHOW = ["host.loadavg1_start", "host.loadavg1_end", "host.runnable_start",
        "host.runnable_end", "spark.executor_run_s", "spark.task_wait_s",
        "jvm.process_cpu_s"]


def traced():
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", WORKLOAD, "--seed", str(SEED),
                        "--seconds", "60", "--trace", "1"], cwd=ROOT,
                       stdout=subprocess.PIPE, text=True, check=True)
    line = json.loads(r.stdout.strip().splitlines()[-1])
    out = os.path.join(ROOT, ".bench_build", "out",
                       f"{WORKLOAD}-seed{SEED}-trace1", "result.json")
    with open(out) as f:
        runs = json.load(f)["runs"]
    walls = {("traced" if x["trace"] else "untraced"): x["run_s"] for x in runs}
    return {k: v["value"] for k, v in line["metrics"].items()}, walls


def main():
    quiet, qwall = traced()
    burners = [subprocess.Popen(["yes"], stdout=subprocess.DEVNULL)
               for _ in range(BURNERS)]
    try:
        busy, bwall = traced()
    finally:
        for b in burners:
            b.kill()
        for b in burners:
            b.wait()
    print(f"{'metric':32} {'quiet':>16} {'burners':>16}  check")
    for k in ("untraced", "traced"):
        print(f"{'run_s (' + k + ')':32} {qwall[k]:16.3f} {bwall[k]:16.3f}")
    ok = True
    for k in SAME:
        same = quiet[k] == busy[k]
        ok &= same
        print(f"{k:32} {quiet[k]:16.0f} {busy[k]:16.0f}  "
              f"{'equal' if same else 'DIFFERS'}")
    for k in CLOSE:
        rel = busy[k] / quiet[k] - 1 if quiet[k] else 0.0
        ok &= abs(rel) <= 0.15
        print(f"{k:32} {quiet[k]:16.3f} {busy[k]:16.3f}  {rel:+.1%}")
    for k in SHOW:
        print(f"{k:32} {quiet[k]:16.3f} {busy[k]:16.3f}")
    print("stall separated" if ok else "stall NOT separated")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
