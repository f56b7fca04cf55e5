#!/usr/bin/env python3
"""Site-sync benchmark: one run of one workload.

    python3 sitebench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

WORKLOAD is full_sync, delta_sync_http or registry_heavy (see
sitebench/README.md). Builds the engine and harness if needed
(sitebench/build.py), runs the harness JVM in a scratch directory under
.bench_build, and prints its result: the last stdout line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. With
--trace 1 the spans are also written to
.bench_build/traces/<workload>-seed<N>.json.

Extra option, for re-recording the registry digests only:
    --record DIR   run one registry pass and write its outputs and
                   digests to DIR for registry_oracle.py
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("full_sync", "delta_sync_http", "registry_heavy")
# the run (after any build) must end well inside three minutes
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs the module opens spark-submit normally adds
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--record")
    a = ap.parse_args()

    classes = build.build()
    os.makedirs(build.OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.OUT)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           *ADD_OPENS,
           "-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
           "sitebench.SiteBench",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work,
           "--expected", os.path.join(HERE, "registry_expected.json")]
    if a.trace == "1":
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
    if a.record:
        cmd += ["--record", os.path.abspath(a.record)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: {a.workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(out)
        sys.exit(f"run: harness exited with {proc.returncode}")
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"run: malformed result {lines[-1]}")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
