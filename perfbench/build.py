"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
harness (`perfbench/src`) into one class directory with the Scala compiler
that ships in `$SPARK_HOME/jars`, the same jars the engine runs on.

    python3 perfbench/build.py          # from the repository root

The classes go to `.bench_build/perfbench/classes`; a fingerprint of every
source file decides whether a rebuild is needed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BuildError(f"no jars under {home}/jars")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        raise BuildError("engine sources (src/main/scala) not found: run from the repository root")
    harness = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"), recursive=True))
    if not harness:
        raise BuildError("harness sources (perfbench/src) not found")
    return engine + harness


def fingerprint(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure(root, build_dir):
    """Return the class directory, compiling first if any source changed."""
    files = sources(root)
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    want = fingerprint(files)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise BuildError(f"Scala {SCALA} compiler jars not found beside Spark")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        with open(log) as fh:
            raise BuildError("scalac failed:\n" + fh.read()[-3000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(bdir, exist_ok=True)
    try:
        print(ensure(root, bdir))
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
