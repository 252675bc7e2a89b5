"""Build graft's main classes and the benchmark's own JVM classes.

Both are compiled with the Scala compiler that ships with the Spark jars
that `build.sbt` compiles against (its `unmanagedBase`, or
`$SPARK_HOME/jars` when set), so no sbt start-up is paid per run. Outputs
go to `.bench_build/` in the checkout and are reused while the sources
they were built from are unchanged.

Run alone to build: `python3 perfbench/build.py`.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, sources, classpath, stamp):
    dest = os.path.join(OUT, name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return dest
    if not sources:
        raise BuildError("no sources for %s" % name)
    tmp = dest + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + sources
    log = os.path.join(OUT, name + ".log")
    with open(log, "w") as fh:
        code = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compiling %s failed, see %s" % (name, log))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def _spark_jars(build_sbt):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(build_sbt) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise BuildError("no unmanagedBase in build.sbt and no SPARK_HOME")
    return m.group(1)


def build():
    """Compile (or reuse) both class trees; return the runtime classpath."""
    build_sbt = os.path.join(ROOT, "build.sbt")
    graft_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not graft_src or not os.path.exists(build_sbt):
        raise BuildError("graft sources not found under %s" % ROOT)
    spark_jars = _spark_jars(build_sbt)
    if not os.path.isdir(spark_jars):
        raise BuildError("Spark jars not found at %s" % spark_jars)
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars, "*")
    graft_stamp = _stamp(graft_src + [build_sbt])
    graft = _compile("graft-classes", graft_src, jars, graft_stamp)
    bench_src = _sources(os.path.join(HERE, "scala"))
    bench = _compile("bench-classes", bench_src, graft + os.pathsep + jars,
                     _stamp(bench_src, graft_stamp))
    return os.pathsep.join([bench, graft, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
