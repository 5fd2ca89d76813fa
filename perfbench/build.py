#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's
Scala sources (`perfbench/src`) into `.bench_build/classes`, with the
Scala 2.13 compiler that ships among the Spark jars (the Scala line
build.sbt uses) and the Spark jars on the classpath. Spark is found from
`SPARK_HOME`, else from `spark-submit` on the PATH. A build is reused while
no source file changed.

    python3 perfbench/build.py      # builds, prints the classes dir
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars."""
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME"),
             submit and os.path.dirname(os.path.dirname(os.path.realpath(submit)))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def jar(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise BuildError(f"{prefix} 2.13 jar not found in {jars}")
    return found[-1]


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft")):
        raise BuildError(f"program sources not found under {program}")
    files = glob.glob(os.path.join(program, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    compiler = [jar(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect")]
    files = sources()
    digest = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return CLASSES
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = os.path.join(BUILD_DIR, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    try:
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=840)
    finally:
        os.remove(argfile)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + done.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
