#!/usr/bin/env python3
"""Build the engine plus the benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload lens_tick --seed 7 --seconds 15 --trace 0

The engine (src/main/scala) and the benchmark (perfbench/src) are compiled
together with the Scala compiler that ships in the Spark distribution the
engine's build.sbt points at ($SPARK_HOME/jars, else build.sbt's
`unmanagedBase`). Classes are cached under perfbench/.build/<source hash>
and the two most recently used builds are kept, so only the first run of a
source tree pays the compile. The workload JVM starts straight from that
classpath: no build tool sits inside `setup_s`.

The JVM gets SPARK_GRAFT_CPUS = usable cores and SPARK_DRIVER_MEM derived
from MemTotal by the same rule as the tier-1 test command (MemTotal / 2,
clamped to 2..8 GiB). All run state (stores, Spark scratch, temp files) lives
under perfbench/.runs/ and is removed when the run ends; a traced run keeps
its span file under perfbench/.runs/traces/.

The last line of stdout is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("bulk_build", "lens_tick")
RUN_TIMEOUT_S = 170
COMPILE_TIMEOUT_S = 840
# Builds kept in perfbench/.build: a before/after comparison alternates two
# source trees in one checkout, and each must stay compiled.
KEEP_BUILDS = 2

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# engine's build.sbt passes to forked runs).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars: set SPARK_HOME or keep build.sbt's unmanagedBase")


def source_files(base, exts):
    out = []
    for d, _, files in os.walk(base):
        out.extend(os.path.join(d, f) for f in files if f.endswith(exts))
    return sorted(out)


def prune(builds, keep):
    """Delete all but the `keep` most recently used builds."""
    if not os.path.isdir(builds):
        return
    dirs = sorted((os.path.join(builds, d) for d in os.listdir(builds)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def build(jars):
    """Compile engine + benchmark into perfbench/.build/<hash>; return classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine_res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(BENCH_DIR, "src")
    if not os.path.isdir(engine_src) or not os.path.isdir(bench_src):
        fail("engine sources (src/main/scala) or benchmark sources (perfbench/src) missing")
    srcs = source_files(engine_src, (".scala", ".java")) + source_files(bench_src, (".scala",))
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    builds = os.path.join(BENCH_DIR, ".build")
    out = os.path.join(builds, h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    cp = [classes, engine_res, os.path.join(jars, "*")]
    if os.path.isfile(os.path.join(out, "ok")):
        os.utime(out)
        return cp
    prune(builds, KEEP_BUILDS - 1)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss64m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"compile failed (exit {r.returncode})")
    with open(os.path.join(out, "ok"), "w") as f:
        f.write(f"{len(srcs)} sources, {time.time() - t0:.1f} s\n")
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return cp


def usable_cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_driver_mem():
    """MemTotal / 2 in whole GiB, clamped to 2..8 (the tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-ops-digests", action="store_true",
                    help="with --trace 1: rewrite perfbench/ops_expected.json")
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    cp = build(jars)

    cpus = str(usable_cpus())
    mem = spark_driver_mem()
    runs = os.path.join(BENCH_DIR, ".runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(runs, "traces")
    os.makedirs(traces, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_MASTER", None)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    launch_ms = int(time.time() * 1000)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{mem}", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
            f"-Dspark.local.dir={tmp}"] + opens +
           ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--launch-ms", str(launch_ms),
            "--bench-dir", BENCH_DIR,
            "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")] +
           (["--record-ops-digests"] if a.record_ops_digests else []))
    print(f"# env SPARK_GRAFT_CPUS={cpus} SPARK_DRIVER_MEM={mem}", flush=True)
    # A SIGTERM to this script must also stop the JVM it started.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # The JVM writes straight to our stdout; its last line is the result.
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"workload did not finish within {RUN_TIMEOUT_S} s")
        raise
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        fail(f"workload exited {code}")


if __name__ == "__main__":
    main()
