#!/usr/bin/env python3
"""Run one perfbench workload against the engine in this checkout.

    python3 perfbench/run.py --workload migrate|curate \
        --seed N --seconds S --trace 0|1

Builds the benchmark and the engine it links from source with sbt when
the sources changed since the last build, then runs the workload in a
fresh JVM with plain `java -cp`. The last line of standard output is the
result JSON; on any failure it is a line starting with
`perfbench: error:` that names the reason, and the exit code is not 0.
Everything the run writes stays under perfbench/.work and target/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("migrate", "curate")
# A run must end within 180 s; the JVM gets what the build left of that.
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 840
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these opens (the engine's
# build.sbt passes the same list to its forked runs).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(reason):
    print(f"perfbench: error: {reason}", flush=True)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(deadline):
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp_file = os.path.join(HERE, "target", "perfbench-stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH; it is needed to build the engine and the benchmark")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log = os.path.join(HERE, "target", "perfbench-build.log")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    with open(log, "w") as out:
        code = run_child(cmd, out, subprocess.STDOUT, deadline - time.time())
    if code is None:
        fail(f"build timed out after {BUILD_BUDGET_S} s (log: perfbench/target/perfbench-build.log)")
    if code != 0:
        with open(log) as f:
            errors = [l.strip() for l in f if "[error]" in l]
        fail(f"build failed with exit {code}: {errors[0] if errors else 'see perfbench/target/perfbench-build.log'}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read()


def run_child(cmd, stdout, stderr, timeout):
    """Run `cmd` in its own process group; None when it outlived `timeout`."""
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not 1 <= args.seconds <= 60:
        fail("--seconds must be between 1 and 60")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine's sources (build.sbt and src/main/scala/graft) are not "
             "next to perfbench/; run from a full checkout of the repository")
    if shutil.which("java") is None:
        fail("java is not on PATH")
    started = time.time()
    classpath = build(started + BUILD_BUDGET_S)

    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # A fixed-size heap and the stop-the-world collector: no heap resizing
    # and no collector threads competing with the tasks between runs.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(work, "stderr.txt")
    with open(out_path, "w") as out, open(err_path, "w") as err:
        code = run_child(cmd, out, err, RUN_BUDGET_S)
    with open(out_path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    for line in lines[:-1]:
        print(line)
    if code is None:
        fail(f"{args.workload} did not finish within {RUN_BUDGET_S} s")
    last = lines[-1] if lines else ""
    if code == 0 and last.startswith("{"):
        print(last, flush=True)
        shutil.rmtree(work, ignore_errors=True)
        return
    with open(err_path) as f:
        checks = [l.strip() for l in f if l.startswith("perfbench: check failed")]
    for c in checks:
        print(c)
    if last.startswith("{"):
        # A wrong answer: the result line says correct=false; print it
        # last and exit non-zero so the run cannot pass unnoticed.
        print(last, flush=True)
        sys.exit(3)
    fail(last.removeprefix("perfbench: error: ") if last.startswith("perfbench: error:")
         else f"{args.workload} exited with {code} and no result "
              f"(stderr kept in perfbench/.work/{args.workload}/stderr.txt)")


if __name__ == "__main__":
    main()
