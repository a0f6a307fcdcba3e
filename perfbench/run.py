"""Runs one graft benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload search|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the library and the
benchmark driver from source (perfbench/build.py, cached in .bench_build),
starts one local Spark JVM that sets up the seeded inputs, runs the
closed loop for S seconds and checks every answer, and prints one JSON
object: {"correct", "attempted", "failed", "metrics"}. Exits non-zero when
the build fails, the run fails, or any answer is wrong.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (what spark-submit injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """Driver heap from the host's memory: a quarter of MemTotal, 1-4 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 2
    return max(1, min(4, kb // (4 * 1024 * 1024)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["search", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    classes = build.ensure_built(root)
    work = os.path.join(root, build.BUILD_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    cp = classes + os.pathsep + os.path.join(build.spark_jars(root), "*")
    cmd = [build.java_bin(), f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"run: no result from the benchmark JVM (exit {proc.returncode})")
    result = json.loads(lines[-1])
    print(json.dumps(result))
    sys.exit(proc.returncode if proc.returncode else (0 if result["correct"] else 1))


if __name__ == "__main__":
    main()
