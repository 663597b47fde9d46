#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result JSON as the last
stdout line.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program first if needed
(perfbench/build.py), then runs one JVM (perfbench.Main) with all its
scratch files under `.bench_build/`. `--trace 1` prints the per-layer
metrics instead of the end-to-end ones and writes a span file. Exits
nonzero, without a result line, when the build or the run fails, and
nonzero after the result line when any operation failed or gave a wrong
answer. See perfbench/README.md.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("search_hot", "search_live")
TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = p.parse_args()

    classes = build.build()
    work = os.path.abspath(os.path.join(build.build_dir(), f"run-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    env = dict(os.environ)
    # Spark's scratch dirs stay in the run dir (spark.local.dir), not where
    # these would point
    for k in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS", "GRAFT_BUILD_TIMING"):
        env.pop(k, None)
    if a.trace:
        env["GRAFT_BUILD_TIMING"] = "1"
    # a terminated runner still stops its JVM (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if not out.rstrip("\n").split("\n")[-1].startswith("{"):
        sys.exit(f"perfbench: run failed (exit {proc.returncode}) without a result")
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
