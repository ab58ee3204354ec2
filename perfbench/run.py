"""End-to-end matcher benchmark: builds the program from source, then runs one
workload for one seed in its own JVM and prints the JVM's result line.

    python3 perfbench/run.py --workload match_batch --seed 1 --seconds 10 --trace 0

The last line of stdout is {"correct", "attempted", "failed", "metrics"}; the
`#` lines before it are the run record. Exit code 0 only when the build, the
run and every output check succeeded.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["gt_index", "match_batch"]
# A run must end within 180 s, or 900 s when it had to build first.
TIMEOUT_S = 175
BUILD_TIMEOUT_S = 890
HEAP = "3g"
# A fixed heap under ParallelGC: with G1 and a growing heap the op times of
# one run kept drifting for several ops after the first.
JVM = ["-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    start = time.monotonic()
    try:
        classpath, source_digest, compiled = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    runs = os.path.join(build.build_root(), "perfbench")
    work = os.path.join(runs, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + JVM + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--source-sha", source_digest[:16]])
    limit = BUILD_TIMEOUT_S if compiled else TIMEOUT_S
    try:
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                             timeout=limit - (time.monotonic() - start))
    except subprocess.TimeoutExpired:
        print(f"run exceeded {limit} s", file=sys.stderr)
        return 3
    finally:
        for f in os.listdir(work) if os.path.isdir(work) else []:
            if f.startswith("trace-") and f.endswith(".json"):
                os.makedirs(os.path.join(runs, "traces"), exist_ok=True)
                shutil.copy(os.path.join(work, f), os.path.join(runs, "traces", f))
        shutil.rmtree(work, ignore_errors=True)

    lines = res.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stdout.write(res.stdout)
        print(f"no result line (exit code {res.returncode})", file=sys.stderr)
        return res.returncode or 4
    print("\n".join(lines))
    return res.returncode


if __name__ == "__main__":
    sys.exit(main())
