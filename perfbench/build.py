"""Build file of the benchmark: compiles the engine's sources together with
the benchmark harness (perfbench/src) into one class directory, using the
Scala compiler that ships with the Spark distribution. A stamp holding the
hash of every source file skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
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


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the repository's sbt build uses (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return m.group(1)


def build_dir():
    return os.path.join(ROOT, ".bench_build")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    found = []
    for top in (engine, os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath():
    return os.path.join(spark_jars(), "*")


def build():
    """Compile if needed; return the class directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    # the Scala compiler, library and reflect jars that ship with Spark
    compiler = ":".join(sorted(glob.glob(os.path.join(spark_jars(), f"scala-{m}-2.13.*.jar")))[-1]
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xmx3g", "-Xss64m", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath(), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
