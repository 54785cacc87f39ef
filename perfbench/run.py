#!/usr/bin/env python3
"""Run one benchmark workload against the engine, building it first if needed.

    python3 perfbench/run.py --workload batch|ann --seed N --seconds S --trace 0|1

Run from the root of a checkout. The engine (src/main/scala) and the
benchmark (perfbench/src) are compiled together by perfbench/build.sbt
into .bench_build/perfbench; the build is redone only when a source or
build file changes. The last line printed is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
STAMP = os.path.join(BUILD, "build.stamp")
WORKLOADS = ("batch", "ann")
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (as in the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None


def build():
    """Compile engine + benchmark; returns the runtime classpath."""
    digest = source_hash()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp_digest, _, cp = fh.read().partition("\n")
        if stamp_digest == digest and cp.strip():
            return cp.strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 3)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        _, rc = run_bounded(["sbt", "-batch", "compile",
                             "export Runtime/fullClasspath"],
                            BUILD_TIMEOUT_S, cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = [l.strip() for l in fh.read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        tail = "\n".join(lines[-30:])
        fail(f"build failed (exit {rc}); see {log}\n{tail}", 3)
    cp = lines[-1]  # `export Runtime/fullClasspath` prints the classpath last
    if not cp.endswith(".jar"):
        fail(f"could not read the classpath from the build; see {log}", 3)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cp + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="rewrite perfbench/expected/<workload>.tsv from this run (default seed only)")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    if not os.path.isdir(ENGINE_SRC) or not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail(f"engine sources not found at {ENGINE_SRC}; run from the root of a full checkout")
    if a.record and a.seed != 1:
        fail("--record is only meaningful for the default seed 1")

    cp = build()
    # scratch of earlier runs that were stopped before they could clean up
    for d in ("work", "tmp"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--bench-dir", BENCH, "--build-dir", BUILD,
            "--record", "1" if a.record else "0"])
    _, rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped", 4)
    sys.exit(rc)


if __name__ == "__main__":
    main()
