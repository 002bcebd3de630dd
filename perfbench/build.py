"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in the Spark distribution, so no build tool and
no network are needed.

    python3 perfbench/build.py          # from the repository root

Classes land in $CARGO_TARGET_DIR/perfbench/classes (default
.bench_build/perfbench/classes). A hash of every source file skips
the compile when nothing changed. The Spark distribution is found through
SPARK_HOME, else through `spark-submit` on PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(
        os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                        os.path.join(ROOT, ".bench_build")), "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    found = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    if not found:
        raise BuildError("no Scala sources found")
    return found


def stamp(files, compiler):
    h = hashlib.sha256(os.path.basename(compiler).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if the sources changed; return (classpath, source hash,
    whether a compile ran)."""
    jars = spark_jars()

    def jar(name):
        hits = glob.glob(os.path.join(jars, f"{name}-2.13.*.jar"))
        if not hits:
            raise BuildError(f"{name} 2.13 not in {jars}")
        return hits[0]

    compiler = jar("scala-compiler")
    files = sources()
    digest = stamp(files, compiler)
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == digest \
            and os.path.isdir(classes):
        return classpath, digest, False
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp",
           os.pathsep.join([compiler, jar("scala-library"),
                            jar("scala-reflect")]),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", fresh] + files
    print(f"compiling {len(files)} sources", file=log, flush=True)
    done = subprocess.run(cmd, stdout=log, stderr=log, timeout=600)
    if done.returncode != 0:
        shutil.rmtree(fresh, ignore_errors=True)
        raise BuildError(f"scalac exited {done.returncode}")
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return classpath, digest, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
