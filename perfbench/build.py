"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark harness (perfbench/harness/src) with the Scala compiler that ships
with the Spark jars, into BUILD_DIR/classes. sbt is not needed.

A build is skipped when the stamp of every source file matches the last one.
Run as `python3 perfbench/build.py` from the repository root.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "harness", "src")


def spark_jars():
    """The jar directory the sbt build compiles against (its unmanagedBase),
    unless SPARK_HOME names another Spark."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return m.group(1)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True) +
                  glob.glob(os.path.join(d, "**", "*.java"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, out, classpath):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + args_file]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def classpath():
    return os.pathsep.join([os.path.join(spark_jars(), "*"),
                            os.path.join(CLASSES, "program"), os.path.join(CLASSES, "harness")])


def build():
    """Compile if needed; returns the runtime classpath."""
    program, harness = sources(PROGRAM_SRC), sources(HARNESS_SRC)
    if not program or not harness:
        raise SystemExit("perfbench: engine or harness sources missing; "
                         "run from the repository root")
    jars = os.path.join(spark_jars(), "*")
    # the harness is rebuilt whenever the engine is
    program_stamp = stamp(program)
    for name, files, cp, want in [
            ("program", program, jars, program_stamp),
            ("harness", harness, os.pathsep.join([jars, os.path.join(CLASSES, "program")]),
             program_stamp + stamp(harness))]:
        stamp_file = os.path.join(CLASSES, name + ".stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            continue
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        scalac(files, os.path.join(CLASSES, name), cp)
        with open(stamp_file, "w") as f:
            f.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
