#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload clone_batch --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. Builds the library and the benchmark
from source on first use (perfbench/build.py), then runs one workload in one
JVM at local[nproc] and prints, as the last line of stdout, one JSON object
with the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics from a Spark-listener
trace. Each run also leaves a JSON artifact (environment, per-op samples,
spans) under .bench_build/perfbench/results.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("clone_batch", "collection_serve")
# A run must finish in 180 s; the first run of a checkout also builds.
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else ""
    except (OSError, subprocess.SubprocessError):
        return ""


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be >= 1")

    root = os.getcwd()
    was_built = os.path.exists(os.path.join(build.build_dir(root), "stamp"))
    classes = build.build(root)
    limit = RUN_LIMIT_S if was_built else BUILD_RUN_LIMIT_S

    out = build.build_dir(root)
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(out, "work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    artifact = os.path.join(results, "%s_seed%d_trace%d_%d.json" % (
        a.workload, a.seed, a.trace, int(t_start * 1000)))
    result_file = os.path.join(work, "result.json")

    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(root), "*"),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", work, "--artifact", artifact, "--result", result_file]
    env = dict(os.environ)
    env["PERFBENCH_GIT_COMMIT"] = git_commit(root)
    env["PERFBENCH_SOURCE_SHA256"] = build.source_digest(root)
    # a terminated runner still stops the JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    # set-up time counts from the JVM's launch, not from the build
    env["PERFBENCH_START_MS"] = str(int(time.time() * 1000))
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, limit - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit("perfbench: run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    line = None
    if rc == 0 and os.path.exists(result_file):
        with open(result_file) as f:
            line = f.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    if not line:
        sys.exit("perfbench: benchmark JVM failed (exit %d)" % rc)
    print(line, flush=True)


if __name__ == "__main__":
    main()
