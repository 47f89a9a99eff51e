"""Compiles the engine (src/main/scala) and the benchmark harness
(perfbench/scala) with the Scala compiler shipped in Spark's jars, into
`<build>/classes`. A stamp of every source file's path, size and mtime
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (run.py calls `build()` itself)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first Spark
    home on PATH (a `bin/spark-submit` beside a `jars` dir)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(p, "spark-submit"))))
        for p in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(p, "spark-submit"))]
    d = next((os.path.join(h, "jars") for h in homes
              if h and os.path.isdir(os.path.join(h, "jars"))), None)
    if d is None:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))


def _sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def _scalac(classpath, out, sources):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(spark_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath",
           ":".join(classpath), "-d", out] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")


def build(build_dir):
    """Returns the run classpath, compiling first if any source changed."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit(f"perfbench: engine sources not found at {main_src}")
    eng = _sources(main_src)
    bench = _sources(os.path.join(HERE, "scala"))
    res = _sources(resources, "") if os.path.isdir(resources) else []
    cls = os.path.join(build_dir, "classes")
    main_out, bench_out = os.path.join(cls, "main"), os.path.join(cls, "bench")
    stamp_file = os.path.join(cls, "STAMP")
    stamp = _stamp(eng + bench + res)
    jars = spark_jars()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        _scalac(jars, main_out, eng)
        if os.path.isdir(resources):
            shutil.copytree(resources, main_out, dirs_exist_ok=True)
        _scalac([main_out] + jars, bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [main_out, bench_out] + jars


if __name__ == "__main__":
    build(os.path.join(ROOT, ".bench_build"))
    print("perfbench: build ok")
