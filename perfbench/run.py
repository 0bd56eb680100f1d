#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source,
then runs one workload and prints one JSON result as its last line.

    python3 perfbench/run.py --workload pip_flagship --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads: pip_flagship, aerial_roundtrip
(or `all`, which runs both in turn and prints one line each). With --trace 1
it also writes the spans of the traced run as JSON under the build directory.

A run is two JVMs in turn over one scratch directory: the first writes the
inputs and the expected outputs, the second times a cold set-up (session
start plus warm-up repetition) and then the repetitions.

The build goes to $CARGO_TARGET_DIR (default .bench_build) and is reused
while the sources are unchanged. Scala and Spark come from the Spark
installation ($SPARK_HOME, default /opt/spark).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ["pip_flagship", "aerial_roundtrip"]


def run_timeout(seconds):
    """Allowance for one workload's JVMs: input generation, the set-up and
    the traced sections, plus the timed repetitions."""
    return 120 + 4 * seconds


BUILD_TIMEOUT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Engine and benchmark sources, plus the engine's resources."""
    files = []
    for d in ("src/main/scala", "perfbench/src/main/scala", "src/main/resources"):
        files += glob.glob(os.path.join(root, d, "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def build(root, out):
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail(f"engine sources not found under {engine}; run from the repository root")
    files = sources(root)
    stamp = hashlib.sha256()
    for f in files:
        stamp.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp = stamp.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    print(f"perfbench: compiling {len(scala)} sources", file=sys.stderr)
    try:
        subprocess.run(cmd, check=True, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    shutil.copytree(os.path.join(root, "src", "main", "resources"), classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    return os.path.join(jars, "*")


def jvm(out, classes, args, workload, work, mode, deadline):
    """Runs perfbench.Main in one JVM; returns its stdout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Djts.overlay=ng", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, spark_jars()]), "perfbench.Main", "--mode", mode,
            "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    if args.trace and mode == "measure":
        cmd += ["--trace-out", os.path.join(out, "trace", f"{workload}-seed{args.seed}.json")]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except BaseException:
        # timed out, or this process was interrupted: stop the JVM first
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"{mode}: exit code {proc.returncode}")
    return stdout


def run_one(out, classes, args, workload):
    work = os.path.join(out, "work", f"{workload}-{os.getpid()}")
    timeout = run_timeout(args.seconds)
    deadline = time.monotonic() + timeout
    try:
        jvm(out, classes, args, workload, work, "generate", deadline)
        stdout = jvm(out, classes, args, workload, work, "measure", deadline)
    except subprocess.TimeoutExpired:
        fail(f"{workload}: timed out after {timeout} s")
    except RuntimeError as e:
        fail(f"{workload}: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if not lines:
        fail(f"{workload}: no result")
    for name, m in json.loads(lines[-1])["metrics"].items():
        print(f"[{workload}] {name} = {m['value']} {m['unit']}", file=sys.stderr)
    return lines[-1]


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "perfbench", "run.py")):
        fail("run from the repository root")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    classes = build(root, out)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = [run_one(out, classes, args, w) for w in names]
    print("\n".join(results))


if __name__ == "__main__":
    main()
