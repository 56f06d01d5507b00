#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's public Scala API.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --quick        # every workload at scale 0.001

Workloads: etl_jobs (JobService over a parquet catalog), olap_mix
(registry queries to a noop sink) and index_serve (dedup and embedding
index probes beside appends); see BENCHMARK.json.

The first run builds the engine sources plus perfbench/src with sbt
(offline) and caches the classpath under .bench_build/, keyed by a hash
of every source and build file. Each run gets a fresh directory under
.bench_build/runs/ for java.io.tmpdir, spark.local.dir, the warehouse,
the catalog, the indexes and the generated inputs; it is deleted at
exit. The last line of stdout is the result JSON.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_jobs", "olap_mix", "index_serve")
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), BENCH):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != BENCH)
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".java", ".sbt"))]
    out += [os.path.join(d, "project", "build.properties") for d in (ROOT, BENCH)]
    return out


def wait(proc, deadline):
    """Waits for `proc` until `deadline`; kills its whole process group
    on timeout or on any exit of ours. Returns (exit code, stdout)."""
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        log(f"{proc.args[0]} exceeded its time limit")
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala) in this directory")
        sys.exit(2)
    h = hashlib.sha256()
    for p in sources():
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t = time.time()
    code, out = wait(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True), t + 840)
    lines = (out or "").splitlines()
    cps = [l for l in lines if "perfbench" in l and "classes" in l
           and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        log("build failed")
        sys.exit(3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cps[-1].strip()}, f)
    log(f"built in {time.time() - t:.0f} s")
    return cps[-1].strip()


def heap():
    """Half of MemTotal, clamped to 2..8 GB (the engine's test-suite rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run(cp, workload, seed, seconds, trace, scale, deadline, dump=None):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Parallel GC with a fixed heap and young generation: eden is one
    # contiguous space refilled from its start, so the pages the JVM
    # touches (its RSS) do not depend on GC timing as G1's regions do
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g", "-XX:SurvivorRatio=2",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--scale", str(scale),
            "--nproc", str(nproc()), "--run-dir", run_dir,
            "--expect", os.path.join(BENCH, "expected.txt")]
    if dump:
        cmd += ["--dump", os.path.abspath(dump)]
    if trace:
        cmd += ["--trace-out",
                os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")]
    try:
        code, out = wait(subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                          start_new_session=True, text=True), deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        return None, 4
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return result, code


def main():
    # a SIGTERM unwinds like an error, so every child gets killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # at 0.05 a 10 s run takes 32-50 s of wall time on a 4-core box, set-up
    # (own JVM, Spark session, inputs and warm-up) included; sf0.1 runs
    # take ~20% longer
    ap.add_argument("--scale", type=float, default=0.05,
                    help="input scale factor (0.05 is the measured one)")
    ap.add_argument("--quick", action="store_true",
                    help="self-check: every workload at scale 0.001, checks on")
    ap.add_argument("--dump", metavar="DIR",
                    help="olap_mix: also write the tables, each query's result "
                         "and its oracle SQL to DIR (see oracle_check.py)")
    a = ap.parse_args()
    cp = build()
    if a.quick:
        ok = True
        for w in WORKLOADS:
            t = time.time()
            res, code = run(cp, w, a.seed, 6, 1, 0.001, time.time() + RUN_LIMIT_S)
            good = code == 0 and res is not None and res["correct"] and res["failed"] == 0
            ok &= good
            log(f"quick {w}: {'ok' if good else 'FAILED'} in {time.time() - t:.0f} s"
                + ("" if res is None else f" ({res['attempted']} ops)"))
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload is required unless --quick")
    res, code = run(cp, a.workload, a.seed, a.seconds, a.trace, a.scale,
                    time.time() + RUN_LIMIT_S, a.dump)
    if res is None:
        log(f"no result (exit code {code})")
        sys.exit(code or 1)
    print(json.dumps(res))
    sys.exit(code)


if __name__ == "__main__":
    main()
