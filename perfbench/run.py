"""Crown-pipeline benchmark entry point.

    python3 perfbench/run.py --workload <assign|predict|crownjob|one_image>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds the program and the
benchmark if needed (perfbench/build.py), runs one workload in one JVM,
and prints the JVM's result object as the last line of standard output.
Exits non-zero, printing no result, if the build, the run or the result
fails.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["assign", "predict", "crownjob", "one_image"]
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "4g"
RUN_TIMEOUT_S = 175


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()

    try:
        cp = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")

    out = build.OUT
    local = os.path.join(out, "spark-local")
    tmp = os.path.join(out, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", os.path.join(out, "work", a.workload)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=build.ROOT, text=True)
    last = None
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                last = line
            else:
                print(line, flush=True)
        proc.wait(timeout=max(1, deadline - time.monotonic()))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or last is None:
        sys.exit(f"benchmark JVM exited with {proc.returncode} and "
                 f"{'a' if last else 'no'} result")
    result = json.loads(last)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
