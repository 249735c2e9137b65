"""Builds the program and the benchmark harness from source.

The program (`src/main/scala`) and the harness (`perfbench/src`) are
compiled with the Scala compiler that ships with the Spark jars the build
definition names (`unmanagedBase` in `build.sbt`), into
`.bench_build/<source hash>/`. A build whose sources did not change is
reused. The runtime classpath puts the program's resources
(`src/main/resources`: its data-source registration and logging
configuration) ahead of the jars, as `sbt run` does. Run directly (`python3 perfbench/build.py`) to build only.
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
    """The jar directory `build.sbt` compiles and runs against."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s" % root)
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark/Scala jars at %s" % jars)
    return jars


def resources(root):
    return os.path.join(root, "src/main/resources")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                            "src", "*.scala")))
    if not prog:
        raise BuildError("no program sources under %s/src/main/scala" % root)
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return prog, harness


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    with open(log, "ab") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        raise BuildError("scalac failed (rc=%d), see %s" % (rc, log))


def build(root):
    """Returns the runtime classpath, building first when needed."""
    jars = spark_jars(root)
    prog, harness = sources(root)
    h = hashlib.sha256()
    res = sorted(f for f in glob.glob(os.path.join(resources(root), "**"), recursive=True)
                 if os.path.isfile(f))
    for f in prog + harness + res + [os.path.join(root, "build.sbt")]:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    out = os.path.join(root, BUILD_DIR, h.hexdigest()[:16])
    classes, bench = os.path.join(out, "classes"), os.path.join(out, "bench-classes")
    jar_cp = os.path.join(jars, "*")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        log = os.path.join(out, "build.log")
        scalac(jars, jar_cp, classes, prog, log)
        scalac(jars, classes + os.pathsep + jar_cp, bench, harness, log)
        open(os.path.join(out, "ok"), "w").close()
    return os.pathsep.join([bench, classes, resources(root), jar_cp])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
