"""Compile the program and the benchmark harness with scalac.

The program's sources (src/main/scala under the repository root) and the
harness (perfbench/harness) are compiled against the Spark jars into
.bench_build/classes. A stamp of every source file's path and content makes
a rebuild happen only when a source changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
MAIN_SRC = os.path.join("src", "main")
HARNESS_SRC = os.path.join("perfbench", "harness")


def spark_jars():
    """The jars of $SPARK_HOME, else of the Spark whose spark-submit is on
    the PATH, else of the installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compiling into {out} failed")


def compiled(jars, classpath, out, files):
    """Compiles `files` into `out` unless the stamp says they are built."""
    stamp_file = out + ".stamp"
    want = stamp(files) + classpath
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return False
    shutil.rmtree(out, ignore_errors=True)
    scalac(jars, classpath, out, files)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return True


def build():
    """Returns the runtime classpath, compiling first if a source changed."""
    main_files, harness_files = sources(MAIN_SRC), sources(HARNESS_SRC)
    if not any(f.endswith(".scala") for f in main_files):
        raise SystemExit(f"perfbench: no program sources under {MAIN_SRC}")
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    if compiled(jars, jar_cp, main_out, main_files):
        shutil.rmtree(bench_out, ignore_errors=True)
        if os.path.exists(bench_out + ".stamp"):
            os.remove(bench_out + ".stamp")
    compiled(jars, main_out + os.pathsep + jar_cp, bench_out, harness_files)
    return os.pathsep.join([bench_out, main_out, jar_cp])


if __name__ == "__main__":
    print(build())
