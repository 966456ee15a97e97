#!/usr/bin/env python3
"""Layered surrogate benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <pages_srg|poly_srg> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source with sbt (the build in
perfbench/ links against the enclosing root build), once per source state,
then runs one benchmark JVM at local[nproc]. The last stdout line is the
result JSON: {"correct", "attempted", "failed", "metrics"}. The build stamp,
generated inputs, result and span files go under $CARGO_TARGET_DIR (default
.bench_build) inside the checkout; sbt keeps its outputs in the builds'
target directories.

Exits non-zero without printing a result when the build or the run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("pages_srg", "poly_srg")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when not started by spark-submit; the same
# list the root build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# build inputs: the root build and program sources, and the benchmark's own
BUILD_INPUTS = ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src/main")
SKIP_DIRS = {"target", ".bsp", "__pycache__"}


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    """SHA-256 over the path and bytes of every build input."""
    h = hashlib.sha256(os.path.abspath(root).encode())
    for top in BUILD_INPUTS:
        p = os.path.join(root, top)
        if not os.path.exists(p):
            continue
        if os.path.isfile(p):
            files = [p]
        else:
            files = []
            for d, dirs, names in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x not in SKIP_DIRS and not
                                 (x == "project" and os.path.basename(d) == "project"))
                files += [os.path.join(d, n) for n in sorted(names)]
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile with sbt and return the runtime classpath, reusing the last
    build while no build input has changed."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources here (build.sbt, src/main/scala)")
    digest = source_digest(root)
    stamp = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip(), digest
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    cmd = [sbt, "-batch", "-Dsbt.server.autostart=false", "compile",
           "export perfbench/Runtime/fullClasspath"]
    # resolve from the local caches only, whatever the caller's environment
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(classpath + "\n")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath, digest


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath, digest = build(root, out)

    work = os.path.join(out, "work")
    tmp = os.path.join(work, "tmp")
    # inputs are regenerated by every run; nothing survives from an earlier one
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # fixed heap and generation sizes: every run starts from the same
    # collector configuration instead of an adaptively sized one
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UseAdaptiveSizePolicy",
            "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.commit={commit(root)}", f"-Dperfbench.source={digest}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--results", os.path.join(out, "results")]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run timed out", 4)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"run failed with exit code {proc.returncode}", 5)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 6)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
