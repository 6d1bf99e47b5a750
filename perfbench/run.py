#!/usr/bin/env python3
"""Pipeline benchmark for `Preprocess.run` + `Ingest.run`.

    python3 perfbench/run.py --workload canonical-cold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
that build while the sources are unchanged. Work files go under
.bench_build/perfbench. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(WORK, "build.stamp")
HEAP = "3g"
YOUNG = "384m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(jars, digest):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
                            "Compile/copyResources"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def commit(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-sha256:" + digest[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        fail("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "pipeline", "Preprocess.scala")):
        fail("program sources (src/main/scala) not found next to perfbench/")

    jars = spark_jars()
    digest = source_digest()
    build(jars, digest)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        fail("java not found")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:MaxNewSize={YOUNG}", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--work", WORK, "--commit", commit(digest), "--seed", str(a.seed)]
    if a.self_test:
        cmd += ["--self-test"]
    else:
        cmd += ["--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.splitlines()
    if r.returncode != 0:
        print("\n".join(lines), file=sys.stderr)
        fail(f"run failed (exit {r.returncode})")
    if a.self_test:
        print("\n".join(lines))
        return
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("\n".join(lines), file=sys.stderr)
        fail("no result line")
    print("\n".join(lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
