#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the repository root):

    python3 perfbench/run.py --workload serve|batch|ingest --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark with sbt into .bench_build/ when the
sources changed since the last build, then runs one benchmark JVM
(perfbench.Main). The JVM's last stdout line is the result JSON. A run
writes under the working directory: inputs and Spark working files in
.bench_run/ (deleted at the end of the run), traced spans in .bench_trace/.
The engine's own caches under /tmp (graft_tables, graft_warehouse_<pid>)
are deleted at the end of the run as well.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 175
HEAP = "-Xmx3g"
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


def source_stamp(root):
    """Hash of every file the build reads from the repository."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    out = os.path.join(root, ".bench_build")
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(out, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                             stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True,
                             timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out", 4)
    lines = res.stdout.splitlines()
    classes = os.path.join(out, "perfbench")
    cp = [l.strip() for l in lines if l.strip().startswith(classes)]
    if res.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def main():
    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")
    args = sys.argv[1:]
    if len(args) % 2 or not all(a.startswith("--") for a in args[::2]):
        fail("usage: run.py --workload W --seed N --seconds S --trace 0|1")
    classpath = build(root)
    tmp = os.path.join(root, ".bench_run", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("benchmark run timed out or was interrupted", 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run is still using it
    sys.exit(code)


if __name__ == "__main__":
    main()
