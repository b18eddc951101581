#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline); later runs reuse the build
while the sources are unchanged. The first run after a build also dumps
the classes the JVM loaded into a class-data-sharing archive, which later
runs map instead of loading and verifying the Spark classes again. Each
run works in a fresh directory under perfbench/.runs/ and removes it when
it ends; traced runs leave their span dump in perfbench/out/.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

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


def source_digest():
    """Digest of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    for stale in (STAMP, ARCHIVE):
        if os.path.exists(stale):
            os.remove(stale)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.override.build.repos=true"
                       " -Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Xmx2g").strip()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "runnable"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala; run from a checkout")
    build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # JVM warnings go to stderr, so stdout holds only the report
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    dump = None
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    else:
        dump = f"{ARCHIVE}.{os.getpid()}"
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--dir", run_dir, "--out", os.path.join(HERE, "out")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        if dump and os.path.exists(dump):
            os.remove(dump)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(run_dir, ignore_errors=True)
    if dump and os.path.exists(dump):
        if proc.returncode == 0:
            os.replace(dump, ARCHIVE)
        else:
            os.remove(dump)
    lines = out.rstrip("\n").split("\n")
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if not l.startswith('{"correct"'):
            print(l)
    if not result:
        fail(f"no result line (java exit {proc.returncode})")
    print(result[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
