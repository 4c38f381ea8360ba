#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the exported runtime
classpath under .bench_build/; later runs start the benchmark JVM directly
on that classpath, so neither sbt's start-up nor its log prefixes reach
the measurement or stdout. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
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
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("batch", "streaming")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for teardown
BUILD_LIMIT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as the program's
# build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint():
    """Hash of every input of the build, so an edited tree rebuilds."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns the benchmark's runtime classpath, building it if needed."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"the program's sources are not in {ROOT}; run from a full checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "classpath.json")
    fp = fingerprint()
    try:
        with open(stamp) as fh:
            st = json.load(fh)
        if st["fingerprint"] == fp and all(os.path.exists(p) for p in st["classpath"].split(os.pathsep)):
            return st["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log_path = os.path.join(WORK, "build.log")
    # the build resolves nothing over the network: offline unless told otherwise
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out; see {log_path}")
        finally:
            stop(proc)
        log.write(out)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp}, fh)
    return cp


def jvm(cp, run_dir):
    """Environment and command prefix of a benchmark JVM whose scratch
    files (Spark local dirs, stream checkpoints, index stores, warehouse)
    all stay under run_dir.

    Spark gets half the machine's cores as task slots, and the JVM as many
    GC threads, so that the driver thread, the JIT and the JVM's other
    threads find an idle core instead of queueing behind tasks: with more
    threads running at once than there are cores, a timing measures the
    kernel's scheduler as much as the program. On four cores a pass takes
    about 5 % longer than with a task slot per core."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    env = dict(os.environ, SPARK_GRAFT_MASTER=f"local[{cores}]", SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-XX:ParallelGCThreads={cores}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main"]
    return env, cmd


def stop(proc):
    """Ends a child and everything it started, and waits for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--scale", default="sf0.01", help="fixture under perfbench/fixtures (self-test: sf0.001)")
    ap.add_argument("--expected", help="digest file (default: perfbench/expected/<scale>.tsv)")
    ap.add_argument("--passes", type=int, help="exact number of measured passes (self-test)")
    a = ap.parse_args()

    data = os.path.join(HERE, "fixtures", a.scale)
    expected = a.expected or os.path.join(HERE, "expected", f"{a.scale}.tsv")
    if not os.path.isdir(data) or not os.path.isfile(expected):
        fail(f"no fixture or digests for scale {a.scale}")
    cp = build()

    started = time.monotonic()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    env, cmd = jvm(cp, run_dir)
    cmd += ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--data", data,
            "--expected", os.path.abspath(expected), "--work", traces]
    if a.passes:
        cmd += ["--passes", str(a.passes)]
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    result = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(f"run exceeded {RUN_LIMIT_S} s; see {log_path}")
            finally:
                stop(proc)
        lines = out.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited {proc.returncode}; see {log_path}")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result line: {lines[-1]}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
