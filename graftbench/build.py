#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together
with the benchmark's own Scala harness (`graftbench/scala`) into one
jar, with the Scala 2.13 compiler that ships in Spark's `jars/`
directory. No sbt and no dependency resolution: the classpath is
Spark's jars.

    python3 graftbench/build.py [build_dir]

The build is skipped when the sources are unchanged since the last
one (a content hash is kept next to the jar). A rebuild also deletes
the JVM's class-data archive (`JSA`), which is only valid for the jar
it was made with.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jsa_path(build_dir: str) -> str:
    """The class-data archive the benchmark JVM maps at start (made by
    the first run after a build), so JVM start skips most class loading."""
    return os.path.join(build_dir, "graftbench.jsa")


def spark_jars() -> str:
    """The `jars/` directory of the Spark installation: `$SPARK_HOME`,
    else the one `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main, "graft", "SparkEntry.scala")):
        raise BuildError(f"graft sources not found under {main}")
    return (sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
            + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                               recursive=True)))


def ensure(root: str, build_dir: str) -> str:
    """Compile if needed; returns the path of the jar."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, "graftbench.jar")
    stamp_file = os.path.join(build_dir, "graftbench.stamp")
    if os.path.isfile(out) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return out
    os.makedirs(build_dir, exist_ok=True)
    staging = os.path.join(build_dir, "staging.jar")
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classpath = sorted(glob.glob(os.path.join(jars, "*.jar")))
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", staging,
           "-classpath", os.pathsep.join(classpath), "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if os.path.exists(jsa_path(build_dir)):
        os.remove(jsa_path(build_dir))
    os.replace(staging, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return out


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(".bench_build", "graftbench")
    try:
        print(ensure(os.getcwd(), out))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
