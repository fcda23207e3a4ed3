#!/usr/bin/env python3
"""Build the benchmark (once per source state) and run one workload.

Run from the root of the repository:

    python3 perfbench/run.py --workload pages_distinct --seed 1 --seconds 12 --trace 0

The benchmark is an sbt project in this directory that compiles the library
sources under src/main/scala together with its own runner. Build outputs,
per-run work directories and trace files go under $CARGO_TARGET_DIR, or
.bench_build when that is unset. The last line of standard output is the
JSON result; the exit code is non-zero when a check fails or the run breaks.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pages_distinct", "sketch_rollup", "near_dup", "ivf_lifecycle")
# every run must end well inside the three minutes a run may take
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit, as in the library's build
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


def source_files(root):
    """Every file the build reads: the benchmark's own and the library's."""
    yield os.path.join(BENCH_DIR, "build.sbt")
    yield os.path.join(BENCH_DIR, "project", "build.properties")
    for d in (os.path.join(BENCH_DIR, "src"), os.path.join(root, "src", "main")):
        for base, subdirs, files in os.walk(d):
            subdirs.sort()
            for f in sorted(files):
                yield os.path.join(base, f)


def stamp(root):
    h = hashlib.sha256()
    for path in source_files(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, out):
    """Compiles with sbt unless the sources are unchanged since the last
    build; returns the path of a java argument file holding the classpath.
    """
    argfile = os.path.join(out, "classpath.args")
    stamp_file = os.path.join(out, "build.stamp")
    want = stamp(root)
    if os.path.exists(argfile) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return argfile
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out", 1)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout)
        fail("sbt build failed", 1)
    with open(argfile + ".new", "w") as f:
        f.write("-cp\n" + cp[-1].strip() + "\n")
    os.replace(argfile + ".new", argfile)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return argfile


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the repository root: the library sources src/main/scala/graft are missing")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    argfile = build(root, out)

    work = os.path.join(out, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Djava.awt.headless=true"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"@{argfile}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--size", args.size, "--work-dir", work]
    if args.trace == "1":
        cmd += ["--trace-out", os.path.join(out, "traces", f"{args.workload}-seed{args.seed}.jsonl")]
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("perfbench: run timed out", file=sys.stderr)
        code = 1
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
