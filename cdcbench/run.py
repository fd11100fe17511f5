#!/usr/bin/env python3
"""Run one workload of the CDC apply benchmark and print its result.

    python3 cdcbench/run.py --workload catchup --seed 1 --seconds 12 --trace 0

Builds the benchmark (engine sources plus cdcbench/src) with sbt on first use
or when a source changed, checks free disk, runs the workload in one JVM at
local[nproc], deletes the run's work tree and prints two lines: the host
conditions with the sample counts, then the result object
{"correct", "attempted", "failed", "metrics"}. Exits non-zero when the build
fails, a state differs from the independent reference, or the engine sources
are not next to the benchmark.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "cdcbench-classpath.txt")
OUT_DIR = os.path.join(HERE, "out")
WORK_ROOT = os.path.join(HERE, "work")
MIN_FREE_BYTES = 3 * 1024 ** 3
JVM_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt when a source is newer than the saved classpath."""
    if os.path.exists(CLASSPATH_FILE):
        built = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(s) <= built for s in sources()):
            with open(CLASSPATH_FILE) as f:
                return f.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH", 3)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, "build.log"), "w") as log:
        p = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if os.pathsep in l and "classes" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (see {os.path.relpath(log.name, ROOT)})", 3)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def proc_stat():
    """(steal ticks, busy ticks) from the aggregate cpu line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        steal = v[7] if len(v) > 7 else 0
        return steal, sum(v) - v[3] - (v[4] if len(v) > 4 else 0)
    except OSError:
        return None


def load_avg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail("engine sources not found next to the benchmark (src/main/scala/graft)", 3)
    free = shutil.disk_usage(HERE).free
    if free < MIN_FREE_BYTES:
        fail(f"only {free / 1e9:.1f} GB free; a run needs {MIN_FREE_BYTES / 1e9:.1f} GB", 4)
    classpath = build()

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    cores = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cores = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK_ROOT, f"{run_id}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for module in ADD_OPENS:
        cmd += ["--add-opens", f"{module}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "cdcbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", OUT_DIR,
            "--cores", str(cores)]

    # a terminated run still stops its JVM and removes its work tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # start from a quiet disk: writeback and discards left by earlier work
    # (a build, a previous run's deleted tree) are not this run's
    os.sync()
    stat0, load0, t0 = proc_stat(), load_avg(), time.time()
    p = None
    try:
        with open(os.path.join(OUT_DIR, f"{run_id}.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                 stdin=subprocess.DEVNULL, text=True)
            try:
                stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.communicate()
                fail(f"run exceeded {JVM_TIMEOUT_S}s", 5)
    finally:
        if p is not None and p.poll() is None:
            p.kill()
            p.wait()
        c0 = time.time()
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
        cleanup_s = time.time() - c0
    stat1, load1 = proc_stat(), load_avg()

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail(f"no result (exit {p.returncode}; see out/{run_id}.log)", p.returncode or 6)
    samples, result = json.loads(lines[-2]), json.loads(lines[-1])
    steal = None
    if stat0 and stat1 and stat1[1] > stat0[1]:
        steal = (stat1[0] - stat0[0]) / (stat1[1] - stat0[1])
    host = {"nproc": cores, "steal_frac": steal, "loadavg_1m": [load0, load1],
            "free_gb_before": round(free / 1e9, 1), "wall_s": round(time.time() - t0, 1),
            "cleanup_s": round(cleanup_s, 2)}
    print(json.dumps({"host": host, **samples}))
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
