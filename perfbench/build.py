"""Compile graft plus the benchmark harness with the Scala compiler that
ships among the Spark jars, without sbt, into .perfbench/build/ at the
checkout root.

The Spark jar directory is the one build.sbt names in `unmanagedBase`
(override with SPARK_JARS).  The output directory is keyed by a hash of
every source file, so a changed program is rebuilt and an unchanged one is
reused.  usage: python3 perfbench/build.py  (prints the classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".perfbench", "build")


def spark_jars():
    d = os.environ.get("SPARK_JARS")
    if not d:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise RuntimeError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise RuntimeError("no scala-compiler jar in %s" % d)
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise RuntimeError("no program sources at %s" % main)
    found = []
    for base in (main, os.path.join(BENCH, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Return the classpath (classes dir + Spark jars), compiling if needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(OUT, key)
    cp = [classes] + jars
    if os.path.exists(os.path.join(classes, ".ok")):
        return cp
    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jcp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jcp, "scala.tools.nsc.Main",
           "-classpath", jcp, "-d", classes, "-nowarn", "@" + argfile]
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise RuntimeError("compilation failed (exit %d)" % r.returncode)
    open(os.path.join(classes, ".ok"), "w").close()
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build()))
