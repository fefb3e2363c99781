#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads (closed loop, one client issuing its operations one after
another, local[nproc] Spark in a fresh JVM per iteration):

  capture_pipeline  the paper's capture chain over a synthetic capture
                    rendered from the seed (see scala/Capture.scala)
  query_floor       every declared query once, seed-permuted, over the
                    committed sf0.01 corpus, plus the bucketed ingest and
                    the sim3 index build (see scala/QuerySession.scala)

A run is one iteration, one JVM: set-up (JVM start, Spark session,
machinery warm-up, input generation) then the timed run. Its length is
set by the workload (about a minute, BENCHMARK.json's run_seconds);
`--seconds` is only recorded. `--trace 1` adds a traced iteration after
the untraced one: per-layer metrics come from the traced one, and
trace.overhead_frac compares its run_s with the untraced one's.

The last stdout line is the JSON result; everything the run leaves
behind is under .bench_build/ (work dirs are removed after each
iteration; results and spans of the last run stay in .bench_build/out/).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("capture_pipeline", "query_floor")
CORPUS = {"query_floor": "sf0.01"}
DEFAULT_POSES = 5
# an iteration is ~1 min; the benchmark must end within 180 s
ITER_TIMEOUT_S = 150

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def host_load():
    """1-minute loadavg and the runnable-process count (/proc/loadavg)."""
    with open("/proc/loadavg") as f:
        parts = f.read().split()
    return float(parts[0]), int(parts[3].split("/")[0])


def steal_s():
    """Hypervisor steal time of the whole machine so far (/proc/stat), s."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


def session_pids(sid):
    """Live processes whose session id is `sid` (the JVM's own session)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        # fields[0] is state; session id is field 6 of stat = index 3 here
        if fields[0] != "Z" and int(fields[3]) == sid:
            pids.append(int(d))
    return pids


def git_status():
    try:
        r = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=60)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout if r.returncode == 0 else None


def jvm_heap():
    """Half the machine's memory, clamped to [2, 6] GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
        return f"{max(2, min(6, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "4g"


def iteration(args, cp, i, traced, out_dir):
    """Run one JVM; return its result dict (or None) and leak count."""
    tag = f"{args.workload}-{os.getpid()}-{i}"
    work = os.path.join(build.build_dir(), "work", tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(out_dir, f"iter-{i}.json")
    log = os.path.join(out_dir, f"iter-{i}.log")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens",
                                                     f"{p}=ALL-UNNAMED")]
    heap = jvm_heap()
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", "1" if traced else "0", "--work", work, "--out", out,
            "--poses", str(args.poses)]
    if args.workload in CORPUS:
        data = os.path.join(HERE, "data", args.corpus)
        cmd += ["--data", data, "--digests",
                os.path.join(HERE, "digests", f"{args.corpus}.json")]
        if args.record_digests:
            cmd += ["--record-digests", os.path.abspath(args.record_digests)]
        if args.certify:
            cmd += ["--certify", os.path.abspath(args.certify)]
    env = dict(os.environ, SPARK_GRAFT_BUCKET_DIR=os.path.join(work, "bucketed"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    if os.path.exists(out):
        os.remove(out)
    leaked = 0
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=lf,
                             start_new_session=True)

        def stop(signum, _frame):
            # the JVM runs in its own session: take it down with us
            os.killpg(p.pid, signal.SIGKILL)
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=ITER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: iteration {i} timed out\n")
        finally:
            left = [q for q in session_pids(p.pid) if q != os.getpid()]
            if p.poll() is None or left:
                leaked = len(left)
                try:
                    os.killpg(p.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            p.wait()
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        return None, leaked
    with open(out) as f:
        return json.load(f), leaked


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=60)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--poses", type=int, default=DEFAULT_POSES)
    ap.add_argument("--corpus", default=None,
                    help="corpus under perfbench/data (query workloads)")
    ap.add_argument("--record-digests", default=None,
                    help="write the digests of this run to this file")
    ap.add_argument("--certify", default=None,
                    help="with --record-digests: graft.Verify dump dir of "
                         "the same corpus the recorded digests must equal")
    args = ap.parse_args()
    if args.record_digests and not args.certify:
        ap.error("--record-digests needs --certify: recorded digests must "
                 "equal those of a certified graft.Verify dump")
    args.corpus = args.corpus or CORPUS.get(args.workload)

    _, cp = build.build()
    if args.corpus and not os.path.isdir(os.path.join(HERE, "data",
                                                      args.corpus)):
        raise SystemExit(f"perfbench: corpus {args.corpus} missing")
    out_dir = os.path.join(build.build_dir(), "out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    git0 = git_status()
    load0 = host_load()
    steal0 = steal_s()
    runs, leaked = [], 0
    for i, trace_on in enumerate([False, True][:1 + args.trace]):
        r, lk = iteration(args, cp, i, trace_on, out_dir)
        leaked += lk
        if r is None:
            raise SystemExit(f"perfbench: iteration {i} gave no result")
        runs.append(r)
    load1 = host_load()
    steal = steal_s() - steal0
    git1 = git_status()

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    side_effects = git0 != git1
    correct = failed == 0 and leaked == 0 and not side_effects

    metrics = {}
    if args.trace == 0:
        metrics["setup_s"] = (runs[0]["setup_s"], "s")
        metrics["run_s"] = (runs[0]["run_s"], "s")
    else:
        untraced, traced = runs
        for name, unit in layer_units().items():
            metrics[name] = (traced["layers"].get(name, 0.0), unit)
        metrics["trace.overhead_frac"] = (
            traced["run_s"] / untraced["run_s"] - 1, "fraction")
        metrics["host.loadavg1_start"] = (load0[0], "load")
        metrics["host.loadavg1_end"] = (load1[0], "load")
        metrics["host.runnable_start"] = (load0[1], "count")
        metrics["host.runnable_end"] = (load1[1], "count")
        metrics["host.steal_s"] = (steal, "s")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "poses": args.poses, "corpus": args.corpus,
        "iterations": len(runs), "leaked_processes": leaked,
        "side_effects": side_effects,
        "host_start": {"loadavg1": load0[0], "runnable": load0[1]},
        "host_end": {"loadavg1": load1[0], "runnable": load1[1]},
        "host_steal_s": steal,
        "runs": runs,
    }
    with open(os.path.join(out_dir, "result.json"), "w") as f:
        json.dump(record, f)
    for r in runs:
        if r.get("failures"):
            sys.stderr.write(f"perfbench: failed: {r['failures']}\n")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


def layer_units():
    """The per-layer metrics BENCHMARK.json declares, with their units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]
            if not m["name"].startswith(("trace.", "host."))}


if __name__ == "__main__":
    main()
