#!/usr/bin/env python3
"""Serving benchmark for the BTrDB surfaces of this repository.

Builds the benchmark together with the engine from this checkout's
sources (sbt, skipped when the classes are known to be current), then
runs one JVM that serves the engine over its gRPC wire (and JDBC daemon)
to seeded closed-loop clients, checks every answer, and prints a report
line followed by the result line.

    python3 servebench/run.py --workload point-reads --seed 1 --seconds 15 --trace 0
    python3 servebench/run.py --selftest

Build output, fixtures, traces and scratch files stay under
servebench/.work and the sbt target directories.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("point-reads", "scan-analytics", "ingest-mixed")

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the same list as the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, naming the build and the
    fixtures it made."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def classes_digest(cp):
    """Digest of what the classpath holds: the name, size and modification
    time of every file in its class directories, and of every jar."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        paths = [entry]
        if os.path.isdir(entry):
            paths = []
            for d, dirs, files in os.walk(entry):
                dirs.sort()
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath(tag):
    """Compile with sbt and return the runtime classpath. sbt is skipped
    only when the class directories are exactly as the last build of this
    source state left them: they are shared by every source state, so a
    build of another state in between forces a fresh incremental build."""
    stamp = os.path.join(WORK, "build", tag)
    if os.path.isfile(stamp):
        with open(stamp) as f:
            cp, digest = f.read().split("\n")[:2]
        try:
            if classes_digest(cp) == digest:
                return cp
        except OSError:
            pass
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export servebench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 1)
    cp = lines[-1]
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(f"{cp}\n{classes_digest(cp)}\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        fail("--workload or --selftest is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine's sources are not in this checkout; nothing to benchmark")

    tag = source_digest()
    cp = classpath(tag)
    fixtures = os.path.join(WORK, "fixtures", tag)
    # fixtures of other source states and scratch of earlier runs (one run
    # at a time per checkout)
    if os.path.isdir(os.path.dirname(fixtures)):
        for old in os.listdir(os.path.dirname(fixtures)):
            if old != tag:
                shutil.rmtree(os.path.join(os.path.dirname(fixtures), old), ignore_errors=True)
    for d in ("tmp", "run", "runs"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
        os.makedirs(os.path.join(WORK, d))
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "servebench.Main", "--work", WORK, "--tag", tag])
    if a.selftest:
        cmd += ["--selftest", "1"]
        timeout = 1800
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # a run that first has to build its fixture may take longer
        built = os.path.exists(os.path.join(fixtures, a.workload, "FIXTURE_READY"))
        timeout = 170 if built else 850
    # Spark and the JDBC daemon drop side files in the working directory
    proc = subprocess.Popen(cmd, cwd=os.path.join(WORK, "run"), stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s", 124)
    sys.stdout.write(out)
    sys.stdout.flush()
    if proc.returncode != 0:
        sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
