"""Build file of the benchmark: compiles the graft library and the harness.

Usage, from the repository root:  python3 perfbench/build.py

Both are compiled with the Scala compiler that ships in the Spark jar
directory ($SPARK_HOME/jars), so no build tool is started. Classes go to
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench) inside the
checkout; each part is rebuilt only when a digest of its sources changes.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_dir(srcs, classes, classpath, stamp, want):
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", classpath, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources into {classes}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(want)


def ensure_built():
    """Compile what changed; return the runtime classpath."""
    lib_srcs, bench_srcs = sources(LIB_SRC), sources(BENCH_SRC)
    if not lib_srcs or not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise FileNotFoundError(f"library sources not found under {LIB_SRC}")
    if not bench_srcs:
        raise FileNotFoundError(f"benchmark sources not found under {BENCH_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise FileNotFoundError(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    jars = os.path.join(SPARK_JARS, "*")
    lib_classes = os.path.join(out, "lib-classes")
    lib_digest = digest(lib_srcs)
    compile_dir(lib_srcs, lib_classes, jars, os.path.join(out, "lib.stamp"), lib_digest)
    bench_classes = os.path.join(out, "bench-classes")
    compile_dir(bench_srcs, bench_classes, os.pathsep.join([lib_classes, jars]),
                os.path.join(out, "bench.stamp"), digest(bench_srcs, lib_digest))
    return os.pathsep.join([bench_classes, lib_classes, jars])


if __name__ == "__main__":
    try:
        print(ensure_built())
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
