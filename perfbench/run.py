#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the benchmark from source,
runs one workload in a fresh JVM and prints the result as the last line.

    python3 perfbench/run.py --workload dbt_project --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The build (sbt, offline) is cached under
.bench_build/ and redone only when a source or build file changes. Each run
works in its own directory under .bench_work/, removed at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
# JDK 17 module openings Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(os.path.relpath(p, ROOT) for p in out)


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(LIB_SRC):
        fail(f"no library sources at {os.path.relpath(LIB_SRC, ROOT)}: "
             "run from the root of a full checkout")
    h = hashlib.sha256()
    for p in sources():
        h.update(p.encode())
        with open(os.path.join(ROOT, p), "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print("[perfbench] building (sbt compile)", file=sys.stderr, flush=True)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    # a class-data archive of what a run loads shortens every cold start
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(WORK, "warm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_jvm(classpath, ["--warm", "1", "--dir", work], work,
                            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"warm-up for the class-data archive failed (exit {code})")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args, work, jvm_opts=()):
    """Runs the benchmark main in its own process group; returns its exit
    code and stdout. The group is killed and reaped on timeout."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    if not jvm_opts and os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += list(jvm_opts) + ["-cp", classpath, "perfbench.Main"] + args
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"benchmark process exceeded {RUN_TIMEOUT_S}s and was killed")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
    return p.returncode, out


def main():
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the generators are deterministic")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    classpath = build()
    name = "selftest" if a.selftest else \
        f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(WORK, name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = run_jvm(classpath, ["--selftest", "1"], work)
            sys.stdout.write(out)
            sys.exit(code)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--dir", work]
        if a.trace:
            args += ["--trace-out",
                     os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        code, out = run_jvm(classpath, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK) and not os.listdir(WORK):
            os.rmdir(WORK)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        fail(f"benchmark exited with code {code}")
    result = json.loads(lines[-1])
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
