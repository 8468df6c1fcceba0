"""Build file of the benchmark: compiles the program and the benchmark.

The program under test is the Scala tree under `src/main/scala` of the
checkout; the benchmark's own sources are under `perfbench/src`. Both
are compiled with the Scala compiler that ships in Spark's jar
directory, against those same jars, so the build needs no network and
no build tool. Outputs go under `.bench_build/` in the checkout:

    .bench_build/classes/main    the program
    .bench_build/classes/bench   the benchmark

Each half is rebuilt only when a digest of its sources changes.

Usage: python3 perfbench/build.py   (prints the classpath on success)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark jar directory with a Scala "
                         "compiler (set SPARK_HOME)")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"),
                            recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_tree(name, srcs, classpath, jars, stamp_extra=""):
    out = os.path.join(BUILD, "classes", name)
    stamp = os.path.join(BUILD, f"{name}.stamp")
    want = digest(srcs, stamp_extra)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log = os.path.join(BUILD, f"{name}-build.log")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-d", out] + (["-cp", classpath] if classpath else []) + srcs
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build: compiling {name} failed (see {log})")
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def build():
    """Compile what changed; return (classpath, source digest)."""
    main_srcs = sources(MAIN_SRC)
    bench_srcs = sources(BENCH_SRC)
    if not main_srcs or not bench_srcs:
        raise SystemExit("build: no program sources under src/main/scala")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    main_out, main_digest = compile_tree("main", main_srcs, None, jars)
    bench_out, _ = compile_tree("bench", bench_srcs, main_out, jars,
                                stamp_extra=main_digest)
    cp = os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])
    return cp, digest(main_srcs + bench_srcs)


if __name__ == "__main__":
    print(build()[0])
