"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars.

The classes land in <build root>/perfbench/classes-<source digest>, so a
checkout builds once and every later run reuses the build. The build root is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the checkout root.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


class BuildError(Exception):
    pass


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        top = os.path.join(ROOT, d)
        if not os.path.isdir(top):
            raise BuildError(f"missing source directory {d}")
        for base, _, names in os.walk(top):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    if not files:
        raise BuildError("no Scala sources")
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classpath entries, source digest,
    whether this call compiled)."""
    files = sources()
    key = digest(files)
    jars = spark_jars()
    out = os.path.join(build_root(), "perfbench", "classes-" + key[:16])
    compiled = not os.path.isfile(os.path.join(out, ".done"))
    if compiled:
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
        res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac failed with exit code {res.returncode}")
        open(os.path.join(tmp, ".done"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        # builds of other sources are stale now
        parent = os.path.dirname(out)
        for d in os.listdir(parent):
            if d.startswith("classes-") and os.path.join(parent, d) != out and ".tmp" not in d:
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return [out, os.path.join(ROOT, RESOURCES), os.path.join(jars, "*")], key, compiled


if __name__ == "__main__":
    try:
        print(build()[0][0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
