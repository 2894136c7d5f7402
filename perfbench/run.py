#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program (perfbench/build.sbt, sbt offline) into .bench_build/ and
generates the input tables there; later runs reuse both until a source file
changes. Each run gets a fresh work directory under .bench_build/work/,
deleted when it ends.

Output: a witness line, a detail line, then as the last line one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Exit code 0 when the run completed, otherwise non-zero without a
result line.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("lifecycle", "curation", "ann_serve")
JVM_TIMEOUT_S = 160  # a run must end within 180 s when no build is needed
BUILD_TIMEOUT_S = 700
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(BUILD, "sbt-target"),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
            timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as lf:
        lines = lf.read().splitlines()
    cps = [l for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed (exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("preview", "curation", "tombstone"),
                    help="corrupt one recorded output before the checks, to show "
                         "that a wrong output counts as a failed op")
    args = ap.parse_args()

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(ENGINE_SRC) or not os.path.exists(spec_file):
        fail(f"no engine sources at {ENGINE_SRC} or no BENCHMARK.json; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    with open(spec_file) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    t_start = time.time()
    classpath = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    load_before = loadavg()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
           "-Dspark.callstack.depth=400"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), BUILD, work]
    if args.inject:
        cmd.append(args.inject)
    err_path = os.path.join(BUILD, f"last-{args.workload}.stderr")
    proc = None
    try:
        with open(err_path, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded its time limit; stderr in {err_path}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in out.splitlines()
             if l.startswith("PERFBENCH_")}
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in lines:
        with open(err_path) as fh:
            print("".join(fh.readlines()[-40:]), file=sys.stderr)
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    result = json.loads(lines["PERFBENCH_RESULT"])
    detail = json.loads(lines["PERFBENCH_DETAIL"])
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None:
            fail(f"the run reported no value for {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"witness": {
        "nproc": os.cpu_count(), "master": detail.get("master"),
        "shuffle_partitions": detail.get("shuffle_partitions"),
        "jvm_max_heap_mb": detail.get("jvm_max_heap_mb"),
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "git_commit": git_commit(), "wall_s": round(time.time() - t_start, 3)}}))
    detail.update({k: v for k, v in result["metrics"].items() if k not in metrics})
    print(json.dumps({"detail": detail}))
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(json.dumps({"correct": bool(result["correct"]) and attempted >= 1, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
