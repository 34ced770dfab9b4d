#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main) and the benchmark (perfbench/src) from
source with the Scala compiler that ships with Spark, then javac for the
engine's Java kernels. Outputs go under $CARGO_TARGET_DIR (default
.bench_build) in perfbench/, and a content hash of the sources skips a
build whose inputs have not changed.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
ENGINE_SCALA = os.path.join(ROOT, "src", "main", "scala")
ENGINE_JAVA = os.path.join(ROOT, "src", "main", "java")
ENGINE_RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("Spark jars not found: set SPARK_HOME to a Spark installation")
    return os.path.join(home, "jars")


def sources(*dirs):
    files = []
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_unit(name, files, classpath, stamp):
    """Compile `files` into out_dir()/name unless its stamp matches."""
    dest = os.path.join(out_dir(), name)
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = os.path.join(spark_jars(), "*")
    cp = os.pathsep.join(classpath + [jars])
    scalac = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
              "-encoding", "UTF-8", "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    if subprocess.run(scalac, cwd=ROOT).returncode != 0:
        raise BuildError(f"scalac failed for {name}")
    java_files = [f for f in files if f.endswith(".java")]
    if java_files:
        javac = ["javac", "-J-XX:-UsePerfData", "--add-modules", "jdk.incubator.vector", "-encoding", "UTF-8",
                 "-nowarn", "-d", tmp, "-cp", os.pathsep.join([tmp, cp])] + java_files
        if subprocess.run(javac, cwd=ROOT).returncode != 0:
            raise BuildError(f"javac failed for {name}")
    os.remove(argfile)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return dest


def build():
    """Build what changed; return the run classpath as a list."""
    if not os.path.isdir(ENGINE_SCALA):
        raise BuildError(f"engine sources not found under {ENGINE_SCALA}")
    os.makedirs(out_dir(), exist_ok=True)
    engine_files = sources(ENGINE_SCALA, ENGINE_JAVA)
    engine_stamp = digest(engine_files)
    engine = compile_unit("engine-classes", engine_files, [], engine_stamp)
    bench_files = sources(BENCH_SRC)
    bench = compile_unit("bench-classes", bench_files, [engine],
                         digest(bench_files + [os.path.abspath(__file__)], engine_stamp))
    return [bench, engine, ENGINE_RESOURCES, os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
