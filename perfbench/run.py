#!/usr/bin/env python3
"""Build and run the layered benchmark (see perfbench/README.md).

One run (the last line on stdout is the result JSON):
    python3 perfbench/run.py --workload north_rule --seed 1 --seconds 12 --trace 0
Every workload, untraced and traced, each metric printed with its unit:
    python3 perfbench/run.py --all
The benchmark's own accounting checks:
    python3 perfbench/run.py --selftest

Run from the repository root (any directory works; paths are resolved from
this file). The first call compiles the library and the benchmark with sbt;
later calls start the JVM directly from the recorded classpath.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose content decides the build, repo-relative."""
    out = []
    for base in ("src/main", "perfbench/src", "project", "perfbench/project"):
        top = os.path.join(ROOT, base)
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return ["build.sbt", "perfbench/build.sbt"] + out


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no library sources under {ROOT} (build.sbt, src/main/scala); "
            "run from a full checkout")
        sys.exit(2)
    h = hashlib.sha256()
    for rel in sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("compiling the library and the benchmark with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    rc = run_child(cmd, HERE, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        log(f"build failed (exit {rc})")
        sys.exit(2)
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")


def run_child(cmd, cwd, timeout, out, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def driver_mem():
    """Heap from MemTotal: half the host, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(main, args, timeout):
    """Start `main` on the benchmark classpath; returns (rc, stdout lines)."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    env["SPARK_DRIVER_MEM"] = driver_mem()
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    bypass = env.get("SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "1")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in env else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC",
        f"-Xms{env['SPARK_DRIVER_MEM']}", f"-Xmx{env['SPARK_DRIVER_MEM']}",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={local}",
        f"-Dspark.shuffle.sort.bypassMergeThreshold={bypass}",
        "-cp", cp, main] + args
    out_path = os.path.join(WORK, "jvm.out")
    with open(out_path, "w") as out:
        rc = run_child(cmd, ROOT, timeout, out, env)
    with open(out_path) as f:
        lines = f.read().splitlines()
    shutil.rmtree(local, ignore_errors=True)
    return rc, lines


def one_run(workload, seed, seconds, trace):
    """One benchmark run; returns (env dict, result dict) or exits."""
    rc, lines = jvm("perfbench.Main", ["--workload", workload, "--seed", str(seed),
                                       "--seconds", str(seconds), "--trace", str(trace)],
                    RUN_TIMEOUT_S)
    env = next((json.loads(l[4:]) for l in lines if l.startswith("env ")), None)
    res = next((json.loads(l[7:]) for l in lines if l.startswith("result ")), None)
    for l in lines:
        if not l.startswith(("env ", "result ")):
            print(l, file=sys.stderr)
    if rc != 0 or res is None:
        log(f"{workload} run failed (exit {rc}, result {'missing' if res is None else 'present'})")
        sys.exit(1)
    return env, res


def run_all(args):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []
    for w in spec["workloads"]:
        name = w["name"]
        print(f"== {name}: {w['why']}")
        op = {}
        for trace in (0, 1):
            env, res = one_run(name, args.seed, spec["run_seconds"], trace)
            if trace == 0:
                print(f"   env {json.dumps(env)}")
            print(f"   trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"   {k:42s} {m['value']:>14.6g} {m['unit']}")
            if not res["correct"]:
                bad.append(f"{name} trace={trace}: {env.get('errors')}")
            op[trace] = res["metrics"].get("op_p50_s" if trace == 0 else "trace.op_p50_s")
        overhead = op[1]["value"] - op[0]["value"]
        print(f"   {'tracing overhead (traced - untraced op_p50_s)':42s} {overhead:>14.6g} s")
    if bad:
        for b in bad:
            print(f"OUTPUT MISMATCH: {b}", file=sys.stderr)
        sys.exit(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    build()
    if args.selftest:
        rc, lines = jvm("perfbench.SelfTest", [], RUN_TIMEOUT_S)
        print("\n".join(l for l in lines if l.startswith("selftest")))
        sys.exit(0 if rc == 0 else 1)
    if args.all:
        run_all(args)
        return
    if not args.workload:
        ap.error("--workload is required")
    env, res = one_run(args.workload, args.seed, args.seconds, args.trace)
    print("env " + json.dumps(env))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
