#!/usr/bin/env python3
"""Run one lakehouse benchmark workload.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of an engine checkout. The first run builds: it
compiles the engine's sources (src/main) and the harness
(lakebench/src/main) with the Scala compiler that ships in Spark's
jars into one jar, then runs every workload's warm-up once in a
training JVM that dumps a class-data-sharing archive of the classes it
loaded. Later runs reuse the jar and the archive while no source file
changed. Each run starts one JVM for one workload and relays its
output: the last stdout line is the JSON result. Exits non-zero,
without a result, when the engine sources or Spark's jars are missing
or the build or the run fails.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
# Scratch space for the build and the JVM (Spark's shuffle and block
# files, the compiler's temporaries), so a run writes only inside the
# checkout.
TMP = os.path.join(ROOT, ".bench_build", "lakebench", "tmp")
CLASSES = os.path.join(TARGET, "classes")
JAR = os.path.join(TARGET, "lakebench.jar")
# Class-data-sharing archive: the classes a run loads, pre-parsed, so a
# run's JVM start and first Spark work skip most class loading.
ARCHIVE = os.path.join(TARGET, "lakebench.jsa")
STAMP = os.path.join(TARGET, "lakebench.stamp")
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Heap, time zone and JDK module opens are in jvm.options, shared with
# the tests' build; these are the run's own: scratch directory, GC,
# class loading, logging.
JVM_OPTS = [
    "-XX:-UsePerfData",
    "-Djava.io.tmpdir=" + TMP,
    "-XX:+UseParallelGC",
    # The classpath holds only classes built here and Spark's own jars:
    # skipping their bytecode verification saves 2-4 s of class loading
    # a run, which is set-up time, not the timed phase.
    "-XX:+UnlockDiagnosticVMOptions",
    "-XX:-BytecodeVerificationRemote",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
]


def fail(msg):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "run.py")]
    # The engine's build.sbt names the Spark jars the build links.
    files += [f for f in [os.path.join(ROOT, "build.sbt")] if os.path.exists(f)]
    for r in SOURCE_ROOTS:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def child_env():
    return dict(os.environ, TMPDIR=TMP)


def spark_jars():
    """The directory of Spark's jars: the one the engine's build.sbt names
    as its unmanagedBase, else SPARK_HOME/jars."""
    candidates = []
    engine_build = os.path.join(ROOT, "build.sbt")
    if os.path.exists(engine_build):
        with open(engine_build) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    fail("no Spark jars with a Scala compiler found (looked in: %s)" % (", ".join(candidates) or "nothing"))


def jvm_options():
    with open(os.path.join(HERE, "jvm.options")) as fh:
        lines = [l.strip() for l in fh]
    return [l for l in lines if l and not l.startswith("#")]


def run_child(cmd, cwd, timeout, stdout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, env=child_env())
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("%s timed out after %d s" % (cmd[0], timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def write_jar():
    """The compiled classes and every resource directory, in one jar: the
    archive covers classes from jars only."""
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for top in [CLASSES] + [os.path.join(r, "resources") for r in SOURCE_ROOTS]:
            for d, _, fs in sorted(os.walk(top)):
                for f in sorted(fs):
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), top))


def java_cmd(jars, main, args, extra=()):
    return (["java"] + jvm_options() + JVM_OPTS + list(extra) +
            ["-cp", os.pathsep.join([JAR, os.path.join(jars, "*")]), main] + list(args))


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources at src/main/scala next to %s" % os.path.basename(HERE))
    stamp = source_stamp()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
        os.remove(STAMP)
    sources = sorted(os.path.join(d, f) for r in SOURCE_ROOTS
                     for d, _, fs in os.walk(os.path.join(r, "scala")) for f in fs if f.endswith(".scala"))
    for f in (JAR, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    cmd = (["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + TMP, "-Xss16m", "-Xmx2g",
            "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES, "-classpath", cp] + sources)
    code = run_child(cmd, ROOT, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0:
        fail("build failed (scalac exit %d)" % code)
    write_jar()
    train = java_cmd(jars, "lakebench.Train", [os.path.join(TMP, "train")],
                     ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    code = run_child(train, ROOT, BUILD_TIMEOUT_S, subprocess.DEVNULL)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail("training run failed (exit %d)" % code)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main(argv):
    if "--help" in argv or "-h" in argv:
        print(__doc__)
        return 0
    os.makedirs(TMP, exist_ok=True)
    jars = spark_jars()
    build(jars)
    cmd = java_cmd(jars, "lakebench.Main", argv, ["-XX:SharedArchiveFile=" + ARCHIVE])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, text=True, env=child_env())
    timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            if line.strip():
                last = line.strip()
        code = proc.wait()
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        timer.cancel()
    if code != 0:
        fail("benchmark JVM exited with %d" % code)
    try:
        json.loads(last)
    except ValueError:
        fail("benchmark printed no JSON result")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
