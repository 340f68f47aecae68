#!/usr/bin/env python3
"""Run one graft benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload enrich_latency --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. The first run compiles the engine and
the benchmark from source with the Scala compiler in Spark's jars (into
perfbench/target); later runs reuse that build while the sources are
unchanged. Everything a run writes
goes under perfbench/work. The last line on stdout is the result:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
the run finished and every output check passed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("enrich_latency", "enrich_bulk", "enrich_resume", "curation")
RUN_TIMEOUT_S = 170
# the curation inventory is not a timed benchmark workload: one pass over
# all arms takes minutes
CURATION_TIMEOUT_S = 3600
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = []
    for r in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if submit:
        return os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    # else the Spark whose jars the engine's own build compiles against
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return os.path.dirname(os.path.normpath(m.group(1)))
    sys.exit("perfbench: SPARK_HOME is unset and spark-submit is not on PATH")


def java_bin():
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else "java"


def stamp(spark_jars):
    h = hashlib.sha256(spark_jars.encode())
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(spark_jars):
    """Compile the engine and the benchmark with the Scala compiler that
    ships in Spark's jars; return the classes directory. Only the JDK and
    the Spark installation are read, and only perfbench/target is written."""
    classes = os.path.join(TARGET, "classes")
    stamp_file = os.path.join(TARGET, "classes.stamp")
    want = stamp(spark_jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    log("compiling engine and benchmark")
    t0 = time.time()
    out = fresh_dir(os.path.join(TARGET, "classes.new"))
    tmp = fresh_dir(os.path.join(TARGET, "tmp"))
    args_file = os.path.join(TARGET, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(source_files()) + "\n")
    cp = os.path.join(spark_jars, "*")
    proc = subprocess.run(
        [java_bin(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", cp, "@" + args_file],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(proc.stdout)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        sys.exit(f"perfbench: compilation failed ({proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return ""
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--data-dir", help="table directory (curation only)")
    ap.add_argument("--pin", action="store_true",
                    help="write the golden checksum file (curation only)")
    args = ap.parse_args()
    # a terminated run still stops what it started: the compiler (killed by
    # subprocess.run on the exit) or the run's process group (below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}: "
            "run from the root of a full checkout")
        return 2
    if args.workload == "curation" and not args.data_dir:
        log("curation needs --data-dir")
        return 2

    home = spark_home()
    classes = build(os.path.join(home, "jars"))
    os.makedirs(WORK, exist_ok=True)
    tmp = fresh_dir(os.path.join(WORK, "tmp"))
    local = fresh_dir(os.path.join(WORK, "spark-local"))
    fresh_dir(os.path.join(WORK, "runs"))

    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_HOME"] = home
    # Spark binds to loopback, so the run does not depend on how the host
    # name resolves
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    # A fixed-size heap keeps the resident set from tracking GC heap
    # resizing. A lower JIT compile threshold lets compilation settle within
    # the warm-up: at the default, the durable workloads' timed passes were
    # still speeding up pass over pass, which spread run-to-run figures.
    heap = "4g" if args.workload == "curation" else "2g"
    cmd = [java_bin(), f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--git", git_commit()]
    if args.data_dir:
        cmd += ["--data-dir", os.path.abspath(args.data_dir)]
    if args.pin:
        cmd += ["--pin", "1"]
    timeout = CURATION_TIMEOUT_S if args.workload == "curation" else RUN_TIMEOUT_S

    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout}s; stopping it")
        out = ""
    finally:
        # the run's process group holds the JVM and any engine child it
        # spawned; stop all of them and wait
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(local, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "runs"), ignore_errors=True)

    result = None
    for line in out.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if set(obj) == {"correct", "attempted", "failed", "metrics"}:
                result = obj
        elif line:
            print(line, file=sys.stderr)
    if result is None:
        log(f"no result (exit code {proc.returncode})")
        return proc.returncode or 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and proc.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
