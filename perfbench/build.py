"""Builds the program and the benchmark's JVM side from source.

Compiles `src/main/scala` (the program, exactly as the repository's sbt
build compiles it: Scala 2.13 against the Spark jars named by `build.sbt`'s
`unmanagedBase`) together with `perfbench/scala` into
`.bench_build/classes`, using the Scala compiler that ships among those
jars. A content hash of every source skips the build when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = ".bench_build"


def spark_jars(root):
    """The jar directory `build.sbt` compiles against."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    if not files:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return files + bench


def classpath(jars):
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def build(root):
    """Returns the classes directory, compiling first if a source changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(classpath(jars)).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, OUT)
    classes = os.path.join(out, "classes")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(classes, "STAMP")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cp = os.pathsep.join(classpath(jars))
        cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compilation failed")
        with open(os.path.join(tmp, "STAMP"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
