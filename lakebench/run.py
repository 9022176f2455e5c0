#!/usr/bin/env python3
"""Run one lakehouse benchmark workload.

    python3 lakebench/run.py --workload <ingest|mutate> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness and the
engine from source with sbt (offline) into lakebench/target; later runs
reuse that build while the sources are unchanged and launch the JVM with
plain `java -cp`. The harness prints its metrics by name and, as the last
stdout line, one JSON object {"correct", "attempted", "failed", "metrics"}.
Exit status is non-zero when the build fails, the engine sources are
missing, or any output check fails.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_digest():
    """Digest of every input of the build: engine and harness sources and
    resources, and the harness build definition."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, ENGINE_RES, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    print("[lakebench] building harness and engine (sbt compile)",
          file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "benchClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("[lakebench] build failed")
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "mutate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("[lakebench] engine sources not found at src/main/scala; "
                 "run from a full checkout of the repository")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(HERE, "work", "run-%d" % os.getpid())
    out = os.path.join(HERE, "out")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java", "-Xmx2g", "-XX:ActiveProcessorCount=%d" % cores,
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "lakebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", os.path.join(work, "lake"), "--out", out])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                           timeout=RUN_TIMEOUT_S)
        code = r.returncode
    except subprocess.TimeoutExpired:
        print("[lakebench] run timed out", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
