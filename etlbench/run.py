#!/usr/bin/env python3
"""Build (when needed) and run the star-schema ETL benchmark.

Run from the root of a checkout:

    python3 etlbench/run.py --workload star_full --seed 1 --seconds 15 --trace 0

`--workload all` runs every workload in one JVM. The last stdout line is
the JSON result; everything the run writes goes under `.bench_build/` in
the checkout. The build compiles the library's sources together with the
benchmark's own (etlbench/build.sbt) and is redone whenever a source or
build file changes.
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
BUILD = os.path.join(ROOT, ".bench_build")
STAMP = os.path.join(BUILD, "classpath.stamp")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# the JVM options Spark needs on JDK 17, shared with build.sbt
JVM_OPTIONS = os.path.join(HERE, "jvm.options")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
           JVM_OPTIONS]


def fail(msg):
    print("etlbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_child(cmd, **kw):
    """Run a child process to completion; if this process is interrupted
    or terminated, stop the child and wait for it before exiting."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate()
        return out, proc.returncode
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt and record the runtime classpath; reuse it while
    the sources are unchanged."""
    stamp = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    out, code = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    # `export` prints the classpath as one line naming the compiled classes
    cps = [l.strip() for l in out.splitlines() if "sbt-target" in l and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = cps[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def main():
    # a terminated run stops its children too (run_child's except clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    args = ap.parse_args()
    for need in SOURCES:
        if not os.path.exists(need):
            fail("missing %s: run from the root of a full checkout"
                 % os.path.relpath(need, ROOT))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(JVM_OPTIONS) as f:
        jvm = [l.strip() for l in f if l.strip()]
    cmd = ["java"] + jvm + [
        "-Xmx3g", "-Djava.io.tmpdir=" + tmp,
        "-Dderby.stream.error.file=" + os.path.join(tmp, "derby.log"),
        "-cp", cp, "etlbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace, "--work", work]
    _, code = run_child(cmd, cwd=ROOT)
    sys.exit(code)


if __name__ == "__main__":
    main()
