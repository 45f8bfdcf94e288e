"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark harness
(`src/bench/scala`) using the Scala compiler that ships among the Spark jars
the root `build.sbt` names (`unmanagedBase`), or `$SPARK_HOME/jars` when
set. Classes go to `<build dir>/bench/classes`; a stamp of every source
file's bytes skips the compile when nothing changed.

    python3 src/bench/build.py        # build, print the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(BENCH))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")]


class BuildError(Exception):
    pass


def build_dir():
    """Where build and run outputs go: `$CARGO_TARGET_DIR` (relative to the
    checkout root) when set, else `.bench_build`."""
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "bench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")
        jars = m.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jar directory {jars} does not exist")
    return jars


def sources():
    found = []
    for top in SOURCE_DIRS:
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(SOURCE_DIRS[0]) for p in found):
        raise BuildError(f"no program sources under {SOURCE_DIRS[0]}")
    return sorted(found)


def build():
    """Compile if any source changed; return (classes dir, Spark jar dir)."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256(jars.encode())
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"build: {e}")
