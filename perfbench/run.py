#!/usr/bin/env python3
"""Run one benchmark measurement from the root of a checkout.

    python3 perfbench/run.py --workload broad|selective --seed N --seconds S --trace 0|1

The first call builds the program and the harness from source with sbt
(offline), and its run records a class-data archive for the later runs;
later calls reuse both until a source file changes. The
measurement itself runs in one JVM started directly from the exported
classpath, at local[nproc]. The last line of stdout is the JSON result; the
line before it is the run record (host facts, sizes, tails, failures).
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import os
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "bench-classpath.txt")
ARCHIVE = os.path.join(WORK, "classes.jsa")
NO_ARCHIVE = ARCHIVE + ".none"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the list build.sbt uses).
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


def newest_source_mtime():
    """Latest mtime over every input of the build."""
    newest = 0.0
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
            continue
        for d, subdirs, files in os.walk(top):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_child(cmd, timeout_s, **kw):
    """Run cmd in its own process group; kill the whole group on timeout or
    interruption, and wait until it has ended."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} exceeded {timeout_s}s, stopping it", file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            for sig in (signal.SIGTERM, signal.SIGKILL):
                try:
                    os.killpg(p.pid, sig)
                except ProcessLookupError:
                    break
                try:
                    p.wait(timeout=10)
                    break
                except subprocess.TimeoutExpired:
                    pass


def build():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], BUILD_TIMEOUT_S,
                     cwd=BENCH, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {code})")


def main():
    # a terminating signal unwinds through run_child's cleanup, so the JVM
    # and sbt (each in its own process group) never outlive this script
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["broad", "selective"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} missing); run from the root of a checkout")
    if not os.path.isfile(CLASSPATH) or os.path.getmtime(CLASSPATH) < newest_source_mtime():
        t0 = time.time()
        build()
        print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A JDK class-data archive: the first run after a build records the
    # classes it loads, written when its JVM exits; later runs map them
    # instead of loading and verifying each one, which takes ~4 s off JVM
    # and engine start-up. A run without an archive works the same, slower.
    def current(f):
        return os.path.isfile(f) and os.path.getmtime(f) >= os.path.getmtime(CLASSPATH)
    record = not current(ARCHIVE) and not current(NO_ARCHIVE)
    cds = [f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp"] if record else \
        [f"-XX:SharedArchiveFile={ARCHIVE}"] if current(ARCHIVE) else []
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    # A fixed heap size: with a heap that grew on demand, the build and dedup
    # calls were ~20% slower (a warm keepers call ~1.8 s against ~1.4 s).
    cmd = ["java", *opens, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", *cds, "-Xlog:cds*=error",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", WORK, "--cpus", str(cpus)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"), SPARK_GRAFT_LOG="ERROR")
    sys.stdout.flush()
    code = run_child(cmd, RUN_TIMEOUT_S, env=env, stdin=subprocess.DEVNULL)
    if record:
        if code >= 0 and os.path.isfile(ARCHIVE + ".tmp"):
            os.replace(ARCHIVE + ".tmp", ARCHIVE)
        else:
            open(NO_ARCHIVE, "w").close()
    sys.exit(code if code >= 0 else 3)


if __name__ == "__main__":
    main()
