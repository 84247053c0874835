#!/usr/bin/env python3
"""Build the benchmark from source.

Compiles the library (src/main/scala at the repository root) and the
benchmark's own sources with the Scala compiler that ships in Spark's
jar directory, into the build directory ($CARGO_TARGET_DIR, else
.bench_build at the repository root). Each compile step is skipped when
a hash of its sources matches the last build.

    python3 perfbench/build.py          # build, print the classpath
    python3 perfbench/build.py --test   # build and run the self-tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the repository's build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found; set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    j = shutil.which("java")
    if not j:
        raise BuildError("no java on PATH; set JAVA_HOME")
    return j


def jvm_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


def scala_files(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.join(root, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_into(srcs, dest, classpath, salt):
    """Compile `srcs` into `dest` unless the stamp says it is current."""
    stamp = dest + ".stamp"
    key = digest(srcs, salt)
    if os.path.isdir(dest) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == key:
                return key
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    print(f"perfbench: compiling {len(srcs)} files into {os.path.relpath(dest, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compilation of {os.path.relpath(dest, ROOT)} failed")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    with open(stamp, "w") as fh:
        fh.write(key)
    return key


def build(with_tests=False):
    """Build what is stale and return the run classpath."""
    lib_srcs = scala_files(LIB_SRC)
    if not lib_srcs:
        raise BuildError(f"no library sources under {os.path.relpath(LIB_SRC, os.getcwd())}")
    jars = os.path.join(spark_jars(), "*")
    classes = os.path.join(out_dir(), "classes")
    os.makedirs(classes, exist_ok=True)
    lib = os.path.join(classes, "lib")
    bench = os.path.join(classes, "bench")
    lib_key = compile_into(lib_srcs, lib, jars, "")
    bench_key = compile_into(scala_files(BENCH_SRC), bench, os.pathsep.join([lib, jars]), lib_key)
    cp = [bench, lib, jars]
    if with_tests:
        test = os.path.join(classes, "test")
        compile_into(scala_files(TEST_SRC), test, os.pathsep.join(cp), bench_key)
        cp.insert(0, test)
    return os.pathsep.join(cp)


def main():
    with_tests = "--test" in sys.argv[1:]
    try:
        cp = build(with_tests)
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not with_tests:
        print(cp)
        return 0
    cmd = [java(), "-Xmx2g", "-XX:-UsePerfData"] + jvm_opens() + [
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(out_dir(), "tmp"),
        "-cp", cp, "perfbench.SelfTest", os.path.join(out_dir(), "selftest"),
        os.path.join(ROOT, "BENCHMARK.json")]
    os.makedirs(os.path.join(out_dir(), "tmp"), exist_ok=True)
    return subprocess.run(cmd).returncode


if __name__ == "__main__":
    sys.exit(main())
