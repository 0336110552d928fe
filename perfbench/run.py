#!/usr/bin/env python3
"""Build and run one benchmark run of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the engine's sources
(src/main/scala) together with the benchmark's (perfbench/src,
perfbench/test) with the Scala compiler that ships in $SPARK_HOME/jars, into
.bench_build/; later runs reuse that build until a source changes. Each run
gets a fresh scratch directory under .bench_work/, removed when it ends. The
last line of standard output is the run's result object; a run that fails
prints no result and exits non-zero.
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
WORK_DIR = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("load_bulk", "load_incremental", "curate_serve")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the repository's build.sbt).
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


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        fail("no engine sources under src/main/scala; run from a checkout of the repository")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "test", "**", "*.scala"), recursive=True))
    return program + bench


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark 4 installation (with jars/)")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("$SPARK_HOME/jars lacks the Scala compiler, library or reflect jar")
    return jars, compiler


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java on PATH or JAVA_HOME")
    return exe


def build():
    """Compile once per distinct source tree. Returns the class path and the
    class-data-sharing archive that runs start from (None if the JVM could
    not write one; runs then load every class from the jars)."""
    srcs = sources()
    jars, compiler = spark_jars()
    h = hashlib.sha256()
    for path in srcs + jars:
        h.update(os.path.relpath(path, ROOT).encode() if path.startswith(ROOT) else path.encode())
        if path.startswith(ROOT):
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, "perfbench-" + key)

    def result():
        archive = os.path.join(out, "classes.jsa")
        return [os.path.join(out, "perfbench.jar")] + jars, (
            archive if os.path.exists(archive) else None)

    if os.path.exists(os.path.join(out, "ok")):
        return result()
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "perfbench-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="building-", dir=BUILD_DIR)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cmd = [java(), "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(jars), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    # class-data sharing archives classes from jars only
    with zipfile.ZipFile(os.path.join(tmp, "perfbench.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.rename(tmp, out)
    # one warm-up of every workload, recording the classes it loads
    print("perfbench: writing the class-data-sharing archive", file=sys.stderr)
    classpath, _ = result()
    work = tempfile.mkdtemp(prefix="train-", dir=BUILD_DIR)
    try:
        code = run_java(classpath, None, "perfbench.Train", ["--work", work], work,
                        ["-XX:ArchiveClassesAtExit=" + os.path.join(out, "classes.jsa"), "-Xlog:cds=error"],
                        stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("perfbench: no archive; runs load every class from the jars", file=sys.stderr)
        if os.path.exists(os.path.join(out, "classes.jsa")):
            os.remove(os.path.join(out, "classes.jsa"))
    with open(os.path.join(out, "ok"), "w") as f:
        f.write(key + "\n")
    return result()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_java(classpath, archive, main, args, work, jvm_flags=(), stdout=None):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xmx3g", "-Xss4m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + list(jvm_flags)
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), main] + args
    proc = subprocess.Popen(cmd, cwd=work, stdout=stdout or sys.stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, stopping it", file=sys.stderr)
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds is not None and not 1 <= a.seconds <= 120:
        ap.error("--seconds must be between 1 and 120")

    # a terminated run still stops its JVM (in the `finally` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    classpath, archive = build()
    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload or 'selftest'}-", dir=WORK_DIR)
    sys.stdout.flush()
    try:
        if a.selftest:
            return 0 if run_java(classpath, archive, "perfbench.SelfTest", [], work) == 0 else 1
        result = os.path.join(work, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores()), "--work", work,
                "--result", result]
        if a.trace:
            args += ["--trace-out", os.path.join(OUT_DIR, f"trace-{a.workload}-seed{a.seed}.json")]
        code = run_java(classpath, archive, "perfbench.Main", args, work)
        if code != 0 or not os.path.exists(result):
            print(f"perfbench: run failed (exit {code})", file=sys.stderr)
            return 1
        with open(result) as f:
            line = f.read().strip()
        sys.stdout.flush()
        print(line, flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
