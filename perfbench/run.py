#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, run from the repository root.

    python3 perfbench/run.py --workload {suite,store} --seed N --seconds S --trace {0,1}

The first run in a checkout compiles the engine's sources together with
the benchmark driver (sbt, in perfbench/); every run then starts one JVM
directly on the recorded classpath, with `local[n]` for n = the CPUs this
process may use. Everything a run writes stays under `.bench_work/` in
the checkout. The last line of stdout is the result JSON; detail lines
(every measured quantity) come before it. Exits non-zero, printing no
result, when the engine sources are missing or a run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
WORKLOADS = ("suite", "store")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def run_group(cmd, limit, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, p.returncode
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return out, p.returncode


def run_jvm(work, args, limit, stdout, flags=()):
    """Run graftbench.BenchMain with `args`; `work` holds its temp files
    and log. Returns (stdout bytes or None on timeout, exit code)."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *flags]
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{m}=ALL-UNNAMED"]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env.pop("SPARK_CONF_DIR", None)
    with open(os.path.join(work, "jvm.log"), "wb") as log:
        return run_group(cmd + ["-cp", cp, "graftbench.BenchMain", *args], limit,
                         cwd=ROOT, env=env, stdout=stdout, stderr=log)


def fresh_dir(name):
    work = os.path.join(ROOT, ".bench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def build(cores):
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        return
    if shutil.which("sbt") is None:
        die(3, "sbt not found")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    for f in (CLASSPATH, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    log_path = os.path.join(HERE, "target", "build.log")
    with open(log_path, "wb") as log:
        _, rc = run_group(
            ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
            BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(3, f"build failed (rc={rc})")
    # Shared class archive of one session start-up: each run then maps
    # Spark's classes instead of loading them one by one. Optional: a
    # run without it is slower to start, not different.
    work = fresh_dir("cds")
    _, rc = run_jvm(work, ["cds", "0", "0", "0", work, str(cores)], RUN_LIMIT_S,
                    subprocess.DEVNULL, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if rc != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(2, "engine sources (src/main/scala/graft) not found next to perfbench/")
    cores = len(os.sched_getaffinity(0))
    build(cores)
    work = fresh_dir(a.workload)
    out, rc = run_jvm(work, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                             str(cores)], RUN_LIMIT_S, subprocess.PIPE)
    if out is None or rc != 0:
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(4, "benchmark JVM timed out" if out is None else f"benchmark JVM exited {rc}")
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die(5, "no result line from the benchmark JVM")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as f:
            spec = json.load(f)
        want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
        if sorted(want) != sorted(res["metrics"]):
            die(6, "metric names differ from BENCHMARK.json")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
