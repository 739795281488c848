#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload reindex --seed 1 --seconds 6 --trace 0

Workloads: reindex, query_mix (see BENCHMARK.json and README.md).

The first run in a checkout builds the engine from source with sbt (the
harness's own build in this directory compiles the root build as a
dependency) and caches the runtime classpath, keyed by a hash of every
build input; later runs start the JVM directly. Everything is written
under the build directory ($CARGO_TARGET_DIR, default .bench_build):
the classpath cache, the JVM log of each run, span files of traced runs,
and the per-run state directory, which is deleted afterwards. The query
mix reads the corpus kept in corpus/sf0.01 beside this script.

The last line of stdout is the JSON result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("reindex", "query_mix")
RUN_LIMIT_S = 172       # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # the first run in a checkout builds: 900 s

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


def build_inputs(root):
    """Every file whose content decides the build output."""
    files = [os.path.join(root, "build.sbt"),
             os.path.join(BENCH_DIR, "build.sbt"),
             os.path.join(BENCH_DIR, "project", "build.properties")]
    for base in (os.path.join(root, "project"),):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(root, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def stamp(root):
    h = hashlib.sha256()
    for f in build_inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    try:
        p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    return p.returncode


def ensure_build(root, build_dir, deadline):
    """Return (classpath, built_now)."""
    key = stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cached_key, classpath = f.read().strip(), g.read().strip()
        # the compiled classes live outside the build directory (sbt's
        # target/ dirs), so a cached classpath is only good while they exist
        if cached_key == key and all(os.path.exists(e) for e in classpath.split(os.pathsep)):
            return classpath, False
    log("building the engine and the harness with sbt")
    build_log = os.path.join(build_dir, "sbt-build.log")
    with open(build_log, "w") as out:
        # sbt's server socket and temp files go under the build directory
        sbt_tmp = os.path.join(build_dir, "sbt-tmp")
        os.makedirs(sbt_tmp, exist_ok=True)
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={sbt_tmp}",
                        "compile", "export Runtime/fullClasspath"],
                       BENCH_DIR, deadline - time.time(), out, subprocess.STDOUT)
    with open(build_log) as f:
        lines = f.read().splitlines()
    if rc != 0:
        log(f"sbt build failed (exit {rc}); tail of {build_log}:")
        for line in lines[-30:]:
            print(line, file=sys.stderr)
        sys.exit(3)
    cps = [l.strip() for l in lines if ".jar" in l and not l.startswith("[")]
    if not cps:
        log("sbt printed no classpath")
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(key)
    return cps[-1], True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala"))
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not at the root of a graft checkout (missing {', '.join(missing)})")
        sys.exit(2)
    if shutil.which("sbt") is None and not os.path.isfile(
            os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "classpath.txt")):
        log("sbt is not on PATH")
        sys.exit(2)

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, built = ensure_build(root, build_dir, t_start + BUILD_RUN_LIMIT_S - 60)
    deadline = t_start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    work = os.path.join(build_dir, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    jvm_log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + os.path.join(work, "derby")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", os.path.join(work, "state"),
            "--corpus-dir", os.path.join(BENCH_DIR, "corpus", "sf0.01"),
            "--trace-dir", os.path.join(build_dir, "trace")]
    out_file = os.path.join(work, "stdout.txt")
    try:
        with open(out_file, "w") as out, open(jvm_log, "w") as err:
            rc = run_group(cmd, root, deadline - time.time(), out, err)
        with open(out_file) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        log(f"run exceeded its time limit; log: {jvm_log}")
        sys.exit(4)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if rc != 0 or result is None:
        log(f"run failed (exit {rc}); tail of {jvm_log}:")
        with open(jvm_log) as f:
            for line in f.read().splitlines()[-40:]:
                print(line, file=sys.stderr)
        sys.exit(5)
    for name, m in result["metrics"].items():
        log(f"{name:44s} {m['value']:>16.6g} {m['unit']}")
    log(f"correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
