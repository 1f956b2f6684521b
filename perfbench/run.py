#!/usr/bin/env python3
"""Lambda-layer benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (the benchmark's own build depends on
the repository's build); later runs reuse the build while the sources
are unchanged. The run itself is one fixed-heap JVM. Its last stdout
line is the JSON result: correct, attempted, failed and the metrics
(end-to-end with --trace 0, per-layer with --trace 1).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench.classpath")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("stream_scored", "serve_dashboard")
# Fixed heap, the same on every host.
HEAP = "3g"
# Seeds whose generated inputs are kept besides the current one.
KEEP_INPUT_SEEDS = 2
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and return (exit code, stdout),
    or (None, stdout) on timeout. Whatever happens, every process of the
    group is stopped and waited for before this returns."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()


def source_files():
    """Every file the build reads: both builds and both source trees."""
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project"),
             os.path.join(HERE, "src", "main")]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out.extend(os.path.join(d, f) for f in sorted(files))
    return out


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt and record the runtime classpath, unless the
    recorded build matches the current sources."""
    stamp = source_stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    rc, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, stderr=subprocess.STDOUT)
    if rc is None:
        fail("build timed out")
    lines = out.strip().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    if not all(os.path.exists(p) for p in cp.split(os.pathsep)):
        sys.stderr.write(out[-4000:])
        fail("build printed no usable classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return cp


def prune_inputs(seed):
    """Keep the inputs of this seed and of the most recent others, so
    a long series of seeds does not fill the disk."""
    inputs = os.path.join(WORK, "inputs")
    if not os.path.isdir(inputs):
        return
    seeds = {}
    for name in os.listdir(inputs):
        m = re.search(r"_s(\d+)(?=[._]|$)", name)
        if m and int(m.group(1)) != seed:
            seeds.setdefault(m.group(1), []).append(os.path.join(inputs, name))
    by_age = sorted(seeds, key=lambda s: max(os.path.getmtime(e) for e in seeds[s]))
    for s in by_age[:-KEEP_INPUT_SEEDS]:
        for e in seeds[s]:
            if os.path.isdir(e):
                shutil.rmtree(e, ignore_errors=True)
            else:
                os.remove(e)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # A termination request unwinds normally, so run_group stops its
    # process group on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for p in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
              os.path.join("data", "HDFS.log_templates.csv")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("not in a checkout of the program: %s is missing" % p)

    cp = build()
    prune_inputs(a.seed)
    for d in ("run", "checkpoints", "spark-local", "spark-warehouse", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(WORK, exist_ok=True)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC",
           "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.stream.error.file=" + os.path.join(WORK, "derby.log")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", WORK]
    env = dict(os.environ, SPARK_GRAFT_DATA_DIR=os.path.join(ROOT, "data"))
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, env=env)
    if rc is None:
        fail("run timed out")
    result = info = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_INFO "):
            info = line[len("PERFBENCH_INFO "):]
        elif line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
    if rc != 0 or result is None:
        fail("run failed (exit %d)" % rc)
    json.loads(result)
    if info is not None:
        print(info)
    print(result)


if __name__ == "__main__":
    main()
