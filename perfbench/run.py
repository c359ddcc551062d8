#!/usr/bin/env python3
"""Benchmark runner: builds the program with the harness, generates the
workload's inputs from the seed, runs one closed-loop client in one JVM on
local[N] (N = min(4, cores)), checks every op's output, and prints one JSON
line with the end-to-end metrics (--trace 0) or per-layer metrics (--trace 1).

Usage (from the repository root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing but the run's output behind

import gates  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)
JVM_BUDGET_S = 170
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest(root):
    h = hashlib.sha256()
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the program's sources with the harness (sbt, offline); skipped
    when the sources are unchanged since the last build."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    digest = sources_digest(root)
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(classes):
        return classes
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(HERE, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                              "compile"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"build failed (exit {rc}); log in {log}", 1)
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def generate(workload, seed, seconds, in_dir):
    """Generate the workload's inputs; returns the seconds it took (part of
    set-up time). A unit (a day, a round) costs seconds of op time, so one
    unit per second of measurement, and never fewer than two, is more than
    a run reaches. Determinism is the generators' own test."""
    t0 = time.perf_counter()
    gen.GENERATORS[workload](seed, in_dir, max(2, math.ceil(seconds)))
    return time.perf_counter() - t0


def run_jvm(args, classes, in_dir, work, out, cores):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        die("SPARK_HOME must name a Spark installation")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # one short-lived JVM per run: C1 only, so C2 compile threads do not
        # compete with the task threads for the cores (one A/B on 4 cores:
        # 19.9 s against 27.6 s of op time); the same on both sides of a compare
        "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
        # deep enough call sites that each job reaches a graft frame
        "-Dspark.callstack.depth=200",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{spark_home}/jars/*", "perfbench.Main",
        "--workload", args.workload, "--in", in_dir, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = p.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        die(f"harness JVM failed ({rc})", 1)


def end_to_end(rec, gen_s, launch_epoch_ms):
    ops = rec["ops"]
    return {
        "setup_s": (gen_s + (rec["loop_start_epoch_ms"] - launch_epoch_ms) / 1000.0, "s"),
        "op_p50_ms": (layers.per_kind(ops, "ms"), "ms"),
        "op_cpu_ms": (layers.per_kind(ops, "cpu_ms"), "ms"),
        "ops_per_s": (len(ops) / (sum(o["ms"] for o in ops) / 1000.0), "1/s"),
        "live_heap_mb": (rec["live_heap_bytes"] / 2 ** 20, "MB"),
    }


def main():
    # SIGTERM unwinds like an error, so the JVM and the run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the repository root: the program's sources "
            "(src/main/scala/graft) are not here")
    classes = build(root)
    cores = max(1, min(4, os.cpu_count() or 1))
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        in_dir, work = os.path.join(run_dir, "in"), os.path.join(run_dir, "work")
        os.makedirs(work)
        gen_s = generate(args.workload, args.seed, args.seconds, in_dir)
        out = os.path.join(run_dir, "record.json")
        launch = time.time() * 1000.0
        run_jvm(args, classes, in_dir, work, out, cores)
        jvm_s = time.time() - launch / 1000.0
        rec = json.load(open(out))
        t0 = time.perf_counter()
        bad = gates.GATES[args.workload](in_dir, rec)
        ops_s = sum(o["ms"] for o in rec["ops"]) / 1000.0
        print(f"perfbench: generate {gen_s:.1f} s, JVM {jvm_s:.1f} s (set-up "
              f"{(rec['loop_start_epoch_ms'] - launch) / 1000.0:.1f} s, ops "
              f"{ops_s:.1f} s), gates {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
        for i, why in sorted(bad.items())[:5]:
            print(f"perfbench: op {i} wrong: {why}", file=sys.stderr)
        if args.trace:
            metrics = layers.per_layer(args.workload, rec, in_dir, cores, bad)
            # keep the raw trace (spans, attributed jobs, per-op records)
            trace_dir = os.path.join(root, ".bench_trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(out, os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = end_to_end(rec, gen_s, launch)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_run"))
        except OSError:
            pass
    print(json.dumps({
        "correct": not bad,
        "attempted": len(rec["ops"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
