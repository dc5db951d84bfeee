"""Build file of the benchmark: compiles graft and the benchmark from source.

It uses the Scala compiler that ships in Spark's jar directory, so it needs
no build tool and no network. The jar directory is `$SPARK_HOME/jars` when
SPARK_HOME is set, else the `unmanagedBase` the project's own build.sbt
names. Classes land in `perfbench/build/<stamp>/classes`, where the stamp
hashes every source file and the jar list: an unchanged tree is not
rebuilt, a changed one is rebuilt from scratch.

Usage, from the repository root:  python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def jar_dir():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def jars():
    d = jar_dir()
    if not os.path.isdir(d):
        raise BuildError(f"Spark jar directory {d} does not exist")
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise BuildError("graft sources (src/main/scala) not found")
    found = []
    for top in (GRAFT_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(top):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the classpath (a list) the benchmark runs with."""
    js = jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in js).encode())
    out = os.path.join(BENCH, "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(os.path.join(BENCH, "build"), ignore_errors=True)
        os.makedirs(classes)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={out}", "-cp", os.pathsep.join(js),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.pathsep.join(js),
               "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + srcs
        with open(os.path.join(out, "scalac.log"), "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise BuildError("scalac timed out")
        if r.returncode != 0:
            raise BuildError(f"scalac failed; see {os.path.join(out, 'scalac.log')}")
        open(os.path.join(out, "done"), "w").close()
    return [classes, GRAFT_RES] + js


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[:1]))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
