#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME|all --seed N --seconds S --trace 0|1

Run it from the root of a graft checkout; `--workload all` runs the
workloads registered in BENCHMARK.json one after another. The first run
builds graft from this checkout's sources together with the benchmark
driver (sbt, offline); later runs reuse the build until a source file
changes. The driver then runs in one JVM with Spark in local mode on
every core.

The last line of standard output is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 it holds the end-to-end metrics; with --trace 1 the
per-layer metrics of a traced run (listeners and spans on). Every run
also leaves a full record in perfbench/results/, and a traced run its
spans with self times. Exit code 0 means every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("process_etl", "serve_http", "ann_stream", "curate_dedup")

# Spark 4 on JDK 17 outside spark-submit needs these (as in graft's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME")
    return home


def source_hash():
    """Hash of every input of the build, so a changed file rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(home):
    want = source_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    env = dict(os.environ, SPARK_HOME=home, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building graft and the benchmark driver (sbt compile)", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(want)
    print(f"perfbench: build took {time.time() - t0:.0f} s", file=sys.stderr)


def heap_mb():
    """A fifth of physical memory, between 1 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return max(1024, min(4096, kb // 1024 // 5))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    home = spark_home()
    build(home)
    if a.workload == "all":
        # the registered workloads in turn, each printing its own result line
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        rcs = [subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace)]).returncode
               for w in names]
        sys.exit(max(rcs))

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(results, f"{tag}.json")
    spans = os.path.join(results, f"{tag}.spans.jsonl")
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--result", result]
           + (["--spans", spans] if a.trace else []))
    env = dict(os.environ, SPARK_HOME=home, SPARK_LOCAL_IP="127.0.0.1",
               SPARK_LOCAL_HOSTNAME="localhost")
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    def stop(signum, frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, err = p.communicate(timeout=170)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run timed out", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines[-1].startswith("{"):
        sys.stderr.write(err[-4000:])
    final = lines[-1] if lines[-1].startswith("{") else None
    for l in lines if final is None else lines[:-1]:
        print(l)
    if a.trace:
        print(overhead_line(results, a.workload, a.seed))
    if final is None:
        fail(f"the driver exited with code {p.returncode} and no result", 5)
    print(final)
    sys.exit(p.returncode)


def overhead_line(results, workload, seed):
    """Tracing overhead: traced vs untraced op latency for the same seed."""
    try:
        def p50(t):
            with open(os.path.join(results, f"{workload}-s{seed}-t{t}.json")) as f:
                return json.load(f)["metrics"]["op_ms_p50"]["value"]
        u, t = p50(0), p50(1)
        return f"[perfbench] tracing overhead: op_ms_p50 {t:.2f} traced vs {u:.2f} untraced ({100 * (t / u - 1):+.1f}%)"
    except (OSError, KeyError, ValueError, ZeroDivisionError):
        return "[perfbench] tracing overhead: run the same seed with --trace 0 to compare"


if __name__ == "__main__":
    main()
