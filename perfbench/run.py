#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Builds the engine together with the benchmark (sbt, into perfbench/target)
when any source changed since the last build, then runs one workload in a
fresh JVM under .bench_build/ and passes its report through. The last
stdout line is the JSON result; it is printed only when the run succeeded.
The benchmark's own self-tests run with `cd perfbench && sbt test`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# The compiled classes as one jar: the JVM's class-data archive accepts
# jars only. The archive is written by the first run after a build; later
# runs map Spark's and the engine's classes instead of loading them one by
# one, which takes seconds off every JVM start.
JAR = os.path.join(BUILD, "perfbench.jar")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(env):
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(JAR) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return
    # sbt's own output goes to stderr: stdout carries only the report
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with zipfile.ZipFile(JAR, "w") as jar:
        for d, _, names in os.walk(CLASSES):
            for n in names:
                f = os.path.join(d, n)
                jar.write(f, os.path.relpath(f, CLASSES))
    with open(stamp, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["er_batch", "er_fold", "curate_fold"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    build(env)

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Xlog:all=warning:stderr",
           f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([JAR, os.path.join(env["SPARK_HOME"], "jars", "*")]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)

    def stop(msg):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(msg)

    signal.signal(signal.SIGTERM, lambda *_: stop("terminated"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"run exceeded {RUN_TIMEOUT_S} s")
    except KeyboardInterrupt:
        stop("interrupted")
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    results = [l for l in lines if l.startswith('{"correct"')]
    for line in lines:
        if line not in results:
            print(line)
    if proc.returncode != 0 or len(results) != 1:
        fail(f"run exited with code {proc.returncode} and no result")
    print(results[0], flush=True)


if __name__ == "__main__":
    main()
