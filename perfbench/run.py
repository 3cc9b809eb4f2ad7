#!/usr/bin/env python3
"""Benchmark driver: builds the engine plus the benchmark package from source
(once per source state), runs one workload in a fresh JVM at local[4] and
prints the result object as the last line of stdout.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Options: --workload bulk_replay|repo_stream, --seed <int>,
--seconds <int>, --trace 0|1, --size bench|tiny (default bench; tiny is the
smoke mode used by test_smoke.py).

Everything it writes stays inside this directory: the build under target/,
inputs, tables, Spark scratch and traces under work/.
"""
import argparse
import fcntl
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
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("bulk_replay", "repo_stream")
DEADLINE_S = 175  # whole run, build excluded
BUILD_TIMEOUT_S = 700
HEAP = "4g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_steal_s():
    """Time this VM's vCPUs waited for the host (diagnostic for noisy runs)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def spark_home():
    """$SPARK_HOME, else the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit is None:
        raise SystemExit("[perfbench] no Spark: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_digest():
    """Hash of every input of the build: engine sources and this package."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    with open(os.path.join(HERE, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
            return
        log("building engine + benchmark (sbt compile)")
        env = dict(os.environ, SPARK_HOME=spark_home())
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                       "-Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, env,
                       BUILD_TIMEOUT_S, sys.stderr)
        if rc != 0:
            raise SystemExit(f"[perfbench] build failed (exit {rc})")
        with open(STAMP, "w") as f:
            f.write(digest)
        log(f"build done in {time.time() - t0:.0f} s")


def run_group(cmd, cwd, env, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout and
    wait for it. Returns the exit code (-9 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="bench", choices=("bench", "tiny"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        raise SystemExit(f"[perfbench] engine sources not found under {ENGINE_SRC}")
    build()

    t0, steal0 = time.time(), cpu_steal_s()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # every scratch path points into WORK (no JVM perf-data file in /tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={WORK}/tmp",
           "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--size", a.size, "--work", WORK]
    out_path = os.path.join(WORK, "tmp", f"stdout-{os.getpid()}.txt")
    with open(out_path, "w") as out:
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
        rc = run_group(cmd, ROOT, env, DEADLINE_S, out)
    with open(out_path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    os.remove(out_path)
    if rc != 0:
        raise SystemExit(f"[perfbench] benchmark JVM exited with {rc}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("[perfbench] malformed result line")
    log(f"run took {time.time() - t0:.1f} s, cpu steal {cpu_steal_s() - steal0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
