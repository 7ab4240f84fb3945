#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload ann --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt) and caches the runtime classpath
under the build directory ($CARGO_TARGET_DIR, else .bench_build); later runs
rebuild only when a source or build file changed. Each run is one JVM: it
prints every metric by name, and as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only when
every output check passed.
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
WORKLOADS = ("ann", "text")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change needs a rebuild, relative to ROOT."""
    roots = ["src/main", "project", "perfbench/src/main", "perfbench/project"]
    files = ["build.sbt", "perfbench/build.sbt"]
    for r in roots:
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, r)):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT)
                      for n in sorted(names) if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(set(files))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def classpath(build_dir):
    """Build if needed; return the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true")
    print("perfbench: building graft and the benchmark (sbt)", file=sys.stderr)
    try:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.splitlines() if not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = classpath(build_dir)

    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work", work]
    if args.trace == "1":
        cmd += ["--spans", os.path.join(build_dir, "spans", f"{args.workload}-seed{args.seed}.jsonl")]
    try:
        code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
