#!/usr/bin/env python3
"""Fast self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs query_floor on the small sf0.001 corpus and capture_pipeline on a
2-pose capture, and checks that:
  - every metric BENCHMARK.json names is printed, with its unit, by an
    untraced run (end_to_end) and a traced run (per_layer);
  - every run is correct (digests and ground truth) with no failures;
  - the traced run's per-layer times account for its run_s, and the
    traced run_s is within trace.overhead_frac of the untraced one;
  - the same seed renders a byte-identical capture, another seed a
    different capture and a different query order, both still correct.
Exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

CAPTURE_STAGES = ["sources.scan_decode_s", "corners.chessboard_s",
                  "corners.quad_s", "pipeline.run_s", "warp.rectify_s",
                  "hdr.merge_s", "crop.luma_s"]
PIPELINE_MODULES = ["pipeline.intrinsic_s", "pipeline.posegrid_s",
                    "pipeline.extrinsic_s", "pipeline.sinks_s"]


def bench(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1", "--trace",
           str(trace), *extra]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    check(r.returncode == 0, f"{workload} seed {seed} exited {r.returncode}")
    line = json.loads(r.stdout.strip().splitlines()[-1])
    out = os.path.join(ROOT, ".bench_build", "out",
                       f"{workload}-seed{seed}-trace{trace}", "result.json")
    with open(out) as f:
        return line, json.load(f)


def check(ok, msg):
    if not ok:
        sys.stderr.write(f"selftest FAILED: {msg}\n")
        sys.exit(1)
    print(f"ok  {msg}")


def metrics_present(line, kind, what):
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = line["metrics"]
    check(set(got) == set(want),
          f"{what}: prints exactly the {kind} metrics "
          f"(missing {sorted(set(want) - set(got))}, "
          f"extra {sorted(set(got) - set(want))})")
    check(all(got[n]["unit"] == u for n, u in want.items()),
          f"{what}: every {kind} metric carries its declared unit")
    check(line["correct"] and line["failed"] == 0 and line["attempted"] > 0,
          f"{what}: correct, {line['attempted']} attempted, 0 failed")


def accounts(rec, parts, what):
    """Traced parts sum to the traced run_s; traced vs untraced run_s
    differ by no more than the reported overhead."""
    untraced = [r for r in rec["runs"] if not r["trace"]][0]
    traced = [r for r in rec["runs"] if r["trace"]][0]
    total = sum(parts(traced))
    cover = total / traced["run_s"]
    check(0.97 <= cover <= 1.0 + 1e-9,
          f"{what}: traced per-layer times cover {cover:.3f} of traced run_s")
    over = traced["run_s"] / untraced["run_s"] - 1
    gap = abs(total / untraced["run_s"] - 1)
    check(gap <= abs(over) + 0.03,
          f"{what}: per-layer times are within {gap:.3f} of the untraced "
          f"run_s (trace.overhead_frac {over:+.3f})")
    return over


def main():
    # query_floor on sf0.001: end-to-end line, then the traced line
    line, rec = bench("query_floor", 1, 0, "--corpus", "sf0.001")
    metrics_present(line, "end_to_end", "query_floor untraced")
    order1 = rec["runs"][0]["order"]
    line, rec = bench("query_floor", 1, 1, "--corpus", "sf0.001")
    metrics_present(line, "per_layer", "query_floor traced")
    over = accounts(rec, lambda r: [o["wall_s"] for o in r["ops"]],
                    "query_floor")
    check(abs(over - line["metrics"]["trace.overhead_frac"]["value"]) < 1e-9,
          f"query_floor: trace.overhead_frac {over:.3f} is traced vs untraced")
    line, rec = bench("query_floor", 2, 0, "--corpus", "sf0.001")
    check(line["correct"], "query_floor seed 2: every digest matches")
    check(rec["runs"][0]["order"] != order1,
          "query_floor: a second seed permutes the query order")

    # capture_pipeline on 2 poses
    line, rec = bench("capture_pipeline", 1, 1, "--poses", "2")
    metrics_present(line, "per_layer", "capture_pipeline traced")
    accounts(rec, lambda r: [r["layers"][k] for k in CAPTURE_STAGES],
             "capture_pipeline stages")
    traced = [r for r in rec["runs"] if r["trace"]][0]
    mods = sum(traced["layers"][k] for k in PIPELINE_MODULES)
    check(abs(mods - traced["layers"]["pipeline.run_s"]) <
          0.02 * traced["layers"]["pipeline.run_s"],
          "capture_pipeline: module times sum to pipeline.run_s")
    sha1 = {r["capture_sha256"] for r in rec["runs"]}
    check(len(sha1) == 1, "capture: same seed, byte-identical capture")
    line, rec = bench("capture_pipeline", 2, 0, "--poses", "2")
    metrics_present(line, "end_to_end", "capture_pipeline seed 2")
    check(rec["runs"][0]["capture_sha256"] not in sha1,
          "capture: a second seed renders a different capture")
    print("selftest passed")


if __name__ == "__main__":
    main()
