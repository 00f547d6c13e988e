#!/usr/bin/env python3
"""Benchmark of the dedupespark library (see perfbench/WORKLOADS.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload webtext --seed 1 --seconds 16 --trace 0

Builds the library from `src/main` and the benchmark from `perfbench/src`
with the Scala compiler that ships with Spark (no sbt), into `.bench_build/`,
and rebuilds only when a source changed. Then runs one workload in one JVM on
`local[4]` and prints one JSON object as the last line of stdout:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Exits non-zero when an operation failed, an output
check did not hold, or the library sources are missing.

Maintenance flags: `--record` rewrites `perfbench/expected/` from the run
instead of checking it; `--record-seeds N` records the webtext input
digests of seeds 0..N-1 and exits.
"""
import argparse
import fcntl
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
import time
import zipfile

BENCH_DIR = "perfbench"
BUILD_DIR = os.path.join(".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
THREADS = 4
# keeps JVMs from writing their performance-data file outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"

# Spark on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    files = []
    for pattern in ("src/main/scala/**/*.scala", "src/main/resources/**/*",
                    f"{BENCH_DIR}/src/**/*.scala", "tools/CpuScale.java"):
        files += [p for p in glob.glob(pattern, recursive=True) if os.path.isfile(p)]
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256(jars.encode())
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    compiler = ":".join(glob.glob(os.path.join(jars, n)) [0] for n in
                        ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    subprocess.run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile],
                   check=True, stdout=sys.stderr)


def java_cmd(jars, build_dir, extra):
    """The benchmark JVM. The parallel collector runs no concurrent GC threads
    beside the four task threads on four cores, and the pre-touched heap takes
    its page faults at start-up rather than inside timed runs."""
    cp = ":".join([os.path.join(build_dir, "bench.jar"), os.path.join(build_dir, "program.jar"),
                   os.path.join(jars, "*")])
    return (["java", NO_PERF_DATA] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-cp", cp] + extra)


def jar(src_dir, out):
    with zipfile.ZipFile(out, "w") as z:
        for root, _, names in os.walk(src_dir):
            for n in sorted(names):
                p = os.path.join(root, n)
                z.write(p, os.path.relpath(p, src_dir))


def build(jars):
    """Compiles library, benchmark and CPU probe, and dumps the class-data
    archive of a training run, unless the stamp matches the sources."""
    files = sources()
    if not any(p.startswith("src/main/scala/") for p in files):
        fail("no library sources under src/main/scala: run from the root of a dedupespark checkout")
    if "tools/CpuScale.java" not in files:
        fail("tools/CpuScale.java is missing")
    # this file is stamped too: the archive depends on the JVM flags above
    want = stamp(files + [os.path.join(BENCH_DIR, "run.py")], jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD_DIR, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return
        t0 = time.time()
        tmp = os.path.join(BUILD_DIR, "next")
        shutil.rmtree(tmp, ignore_errors=True)
        spark_cp = os.path.join(jars, "*")
        classes = os.path.join(tmp, "classes")
        scalac(jars, spark_cp, os.path.join(classes, "program"),
               [p for p in files if p.startswith("src/main/scala/")])
        shutil.copytree("src/main/resources", os.path.join(classes, "program"), dirs_exist_ok=True)
        scalac(jars, os.path.join(classes, "program") + ":" + spark_cp, os.path.join(classes, "bench"),
               [p for p in files if p.startswith(BENCH_DIR + "/")])
        jar(os.path.join(classes, "program"), os.path.join(tmp, "program.jar"))
        jar(os.path.join(classes, "bench"), os.path.join(tmp, "bench.jar"))
        subprocess.run(["javac", "-J" + NO_PERF_DATA, "-d", os.path.join(tmp, "tools"), "tools/CpuScale.java"],
                       check=True, stdout=sys.stderr)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        for name in ("program.jar", "bench.jar", "tools"):
            dst = os.path.join(BUILD_DIR, name)
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.replace(os.path.join(tmp, name), dst)
        # the archive records the jar paths, so it is dumped from the final ones
        work = os.path.join(tmp, "work")
        os.makedirs(os.path.join(work, "tmp"))
        subprocess.run(java_cmd(jars, BUILD_DIR, [f"-XX:ArchiveClassesAtExit={BUILD_DIR}/classes.jsa",
                                                  f"-Djava.io.tmpdir={work}/tmp", "perfbench.Main",
                                                  "--train", "--work", work, "--bench", BENCH_DIR]),
                       check=True, stdout=sys.stderr, timeout=600)
        shutil.rmtree(tmp)
        with open(stamp_file, "w") as f:
            f.write(want)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def cpuscale():
    """Seconds the CPU probe takes for fixed work on THREADS threads."""
    out = subprocess.run(["java", NO_PERF_DATA, "-cp", os.path.join(BUILD_DIR, "tools"), "CpuScale", str(THREADS)],
                         check=True, capture_output=True, text=True, timeout=60).stdout
    return float(re.search(r"threads: ([0-9.eE+-]+)s", out).group(1))


def run_jvm(jars, argv, work):
    """Runs the benchmark JVM, echoing its stdout to stderr; kills its whole
    process group if it outlives RUN_TIMEOUT_S."""
    cmd = java_cmd(jars, BUILD_DIR, [f"-XX:SharedArchiveFile={BUILD_DIR}/classes.jsa",
                                     f"-Djava.io.tmpdir={work}/tmp", "perfbench.Main",
                                     "--work", work, "--bench", BENCH_DIR] + argv)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(lines[-1], file=sys.stderr)
        proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--record-seeds", type=int, default=0)
    a = ap.parse_args()

    if not os.path.exists(os.path.join("src", "main", "scala")):
        fail("no library sources under src/main/scala: run from the root of a dedupespark checkout")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    jars = spark_jars()
    build(jars)

    host = cpuscale() if a.trace else None
    work = os.path.join(BUILD_DIR, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)] + (["--record"] if a.record else []) + \
           (["--record-seeds", str(a.record_seeds)] if a.record_seeds else [])
    try:
        code, lines = run_jvm(jars, argv, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.record_seeds:
        sys.exit(code)

    results = [json.loads(l) for l in lines if l.startswith('{"correct"')]
    if not results:
        fail(f"the benchmark JVM printed no result (exit code {code})", 1)
    result = results[-1]
    measured = result["metrics"]
    if host is not None:
        measured["host.cpuscale_s"] = {"value": host, "unit": "s"}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in names if n not in measured or measured[n]["value"] is None]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}", 1)
    out = {"correct": bool(result["correct"]) and not missing,
           "attempted": int(result["attempted"]), "failed": int(result["failed"]),
           "metrics": {n: measured[n] for n in names}}
    print(json.dumps(out))
    sys.exit(0 if code == 0 and out["correct"] and out["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
