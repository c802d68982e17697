"""Compile the program (src/main) and the benchmark harness (perfbench/src).

The compiler is the Scala 2.13 compiler that ships with the Spark
distribution ($SPARK_HOME/jars, or the project's unmanagedBase), so
nothing is fetched. Classes land in `.bench_build/`
under the checkout root, in a directory named after a hash of the
sources, so an unchanged tree is compiled once.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory
    the project's own build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


SPARK_JARS = _spark_jars()


def _sources(base, exts=(".scala", ".java")):
    out = []
    for dirpath, _, files in os.walk(base):
        out += [os.path.join(dirpath, f) for f in files if f.endswith(exts)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(srcs, classpath, out):
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    return tmp


def _publish(tmp, out):
    """Move a finished build into place; a concurrent build of the same
    sources may have got there first, and then its copy is kept."""
    try:
        os.rename(tmp, out)
    except OSError:
        if not os.path.isdir(out):
            raise
        shutil.rmtree(tmp, ignore_errors=True)


def build():
    """Compile what changed and return the runtime classpath."""
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit("no Spark jars under %s" % SPARK_JARS)
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    srcs = _sources(main_src)
    if not srcs:
        raise SystemExit("no program sources under %s" % main_src)
    res = _sources(main_res, exts=("",)) if os.path.isdir(main_res) else []
    main_out = os.path.join(BUILD, "main-" + _digest(srcs + res))
    jars = os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(main_out):
        os.makedirs(BUILD, exist_ok=True)
        tmp = _scalac(srcs, jars, main_out)
        if os.path.isdir(main_res):
            shutil.copytree(main_res, tmp, dirs_exist_ok=True)
        _publish(tmp, main_out)
    bench_srcs = _sources(os.path.join(HERE, "src"))
    bench_out = os.path.join(BUILD, "bench-" + _digest(bench_srcs, main_out))
    if not os.path.isdir(bench_out):
        tmp = _scalac(bench_srcs, main_out + os.pathsep + jars, bench_out)
        _publish(tmp, bench_out)
    return os.pathsep.join([bench_out, main_out, jars])


if __name__ == "__main__":
    print(build())
