#!/usr/bin/env python3
"""Export benchmark entry point.

    python3 exportbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program (the root sbt project) and
the benchmark (exportbench/build.sbt) from source when either changed, then
runs two JVMs: one generates the seeded tree, the other starts from nothing
and runs the exports. Build outputs, Spark scratch space and generated trees
stay under .bench_build/ in the checkout. The last stdout line is the JSON
result the benchmark JVM printed.
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
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170  # both JVMs together, after the build

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"exportbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every file that goes into the build."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        for name in ("build.sbt", os.path.join("project", "build.properties")):
            files.append(os.path.join(base, name))
        for sub in ("src/main", "project"):
            top = os.path.join(base, sub)
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)
                          if f.endswith((".scala", ".java", ".sbt"))
                          or d.startswith(os.path.join(base, "src"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    except BaseException:
        # interrupted or terminated: take the child's group down with us
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """The benchmark's runtime classpath, building first if sources changed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL)
    text = out.decode(errors="replace")
    lines = [l for l in text.splitlines() if l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(text[-4000:])
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    # SIGTERM unwinds like Ctrl-C, so the running JVM is killed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found at the checkout root")

    cp = classpath()
    cores = len(os.sched_getaffinity(0))
    scratch = {k: os.path.join(BUILD, k) for k in ("spark-local", "tmp", "work")}
    for d in scratch.values():
        os.makedirs(d, exist_ok=True)
    work = os.path.join(scratch["work"], f"{a.workload}-{os.getpid()}")
    java = ["java", "-XX:+UseParallelGC", "-Xss16m"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [
        f"-Djava.io.tmpdir={scratch['tmp']}",
        f"-Dspark.local.dir={scratch['spark-local']}",
        f"-Dspark.sql.warehouse.dir={os.path.join(scratch['tmp'], 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp,
    ]
    common = ["--workload", a.workload, "--seed", str(a.seed), "--work", work]
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]",
               SPARK_GRAFT_CPUS=str(cores))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        code, _ = run_bounded(java + ["-Xmx2g", "exportbench.TreeGen"] + common,
                              deadline - time.monotonic(), cwd=ROOT, env=env,
                              stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if code != 0:
            fail(f"tree generator exited {code}")
        # a fixed heap: with a growing one the run-to-run spread was about
        # twice as wide
        code, out = run_bounded(
            java + ["-Xms3g", "-Xmx3g", "exportbench.ExportBench"] + common +
            ["--seconds", str(a.seconds), "--trace", a.trace],
            deadline - time.monotonic(), cwd=ROOT, env=env,
            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.decode(errors="replace").splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}")
    print(lines[-1])


if __name__ == "__main__":
    main()
