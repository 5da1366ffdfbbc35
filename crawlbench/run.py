"""Crawl benchmark command.

    python3 crawlbench/run.py --workload crawl_tight --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source (crawlbench/build.py), runs
one workload in one JVM on local[<cores>], checks every operation's output
against an independent reference, and prints as its last line one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones; the
line before it is a `report` object with every measured number. Exits
non-zero on any output mismatch, build failure or timeout.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_tight", "kernel_mature")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_TAG = "CRAWLBENCH_RESULT "


def valid(result):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return False
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return False
    if not isinstance(result["failed"], int):
        return False
    return all(isinstance(m.get("value"), (int, float)) and math.isfinite(m["value"])
               for m in result["metrics"].values())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    try:
        classpath = build.build()
        jvm = build.java()
    except build.BuildError as e:
        sys.exit(f"crawlbench: build failed: {e}")

    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = [jvm, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(str(p) for p in classpath), "crawlbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", str(work / "data"),
            "--spans", str(build.OUT / f"trace-{a.workload}-{a.seed}.json")]

    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the run dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)

    def on_timeout(*_):
        raise TimeoutError

    signal.signal(signal.SIGALRM, on_timeout)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_TAG):
                result = json.loads(line[len(RESULT_TAG):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        proc.wait()
    except TimeoutError:
        print(f"crawlbench: timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
    finally:
        signal.alarm(0)
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    if result is None or not valid(result):
        sys.exit(f"crawlbench: no valid result (JVM exit code {proc.returncode})")
    print(json.dumps(result), flush=True)
    if proc.returncode != 0 or not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
