"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the harness (perfbench/harness) into
.bench_build/classes, using the Scala compiler that ships with the Spark
distribution the repo's build.sbt compiles against. Nothing is fetched.
A build is reused while no source file has changed.

    python3 perfbench/build.py     # build, then print the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory build.sbt names as `unmanagedBase`, or
    $SPARK_HOME/jars when that is set."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("build.sbt not found: run from the repository root")
    with open(sbt, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jar directory: set SPARK_HOME")
    return m.group(1)


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "harness", "*.scala")))
    if not engine or not harness:
        raise BuildError("engine or harness sources missing")
    return engine + harness


def build(root="."):
    """Compile if needed; return the classpath for running the harness."""
    jars = spark_jars(root)
    compiler = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    srcs = sources(root)
    h = hashlib.sha256(compiler[0].encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = out + ".stamp"
    resources = os.path.join(root, "src", "main", "resources")
    classpath = os.pathsep.join([out, resources, os.path.join(jars, "*")])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, p))[0]
        for p in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build("."))
    except BuildError as e:
        sys.exit(f"build: {e}")
