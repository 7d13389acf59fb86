"""Build file of the benchmark package: compiles the program under test
(the repository's src/main) and the harness (perfbench/src) with the Scala
compiler that ships in Spark's jar directory, into .bench_build/perfbench.

Each half is rebuilt only when a digest of its sources changes, so only the
first run in a checkout pays the compile. Usage: python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "src", "main", "java")]
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = [os.path.join(BENCH, "src")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(dirs, exts=(".scala", ".java")):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(name, srcs, classpath, jars, resources=None):
    """Compile `srcs` into OUT/<name> unless the stamped digest matches."""
    dest = os.path.join(OUT, name)
    stamp = os.path.join(dest, ".digest")
    res = sources([resources], exts=("",)) if resources else []
    d = digest(srcs + res, ":".join(classpath))
    if os.path.exists(stamp) and open(stamp).read() == d:
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    scalac = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(jars, "*"),
              "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp]
    run(scalac + srcs)
    java = [s for s in srcs if s.endswith(".java")]
    if java:
        run(["javac", "-encoding", "UTF-8", "-nowarn", "-d", tmp,
             "-cp", os.pathsep.join([tmp, cp])] + java)
    if resources:
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".digest"), "w") as f:
        f.write(d)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


def run(cmd):
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        raise BuildError(f"{cmd[0]} failed:\n{p.stdout[-4000:]}")


def build():
    """Return the classpath entries of the built program and harness."""
    for d in PROGRAM_SRC:
        if not os.path.isdir(d):
            raise BuildError(f"program sources missing: {os.path.relpath(d, ROOT)}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        program = compile_into("program", sources(PROGRAM_SRC), [], jars,
                               PROGRAM_RES if os.path.isdir(PROGRAM_RES) else None)
        harness = compile_into("harness", sources(HARNESS_SRC), [program], jars)
    return [harness, program, os.path.join(jars, "*")]


def source_digest():
    return digest(sources(PROGRAM_SRC))[:16]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
