"""Builds the benchmark's JVM side from source: graft's main sources and
resources plus the harness under `perfbench/jvm`, compiled with the Scala
compiler that ships with Spark (`$SPARK_HOME/jars`).

    python3 perfbench/build.py        # prints the classes directory

Output goes to `.bench_build/<source digest>/classes` in the checkout and is
reused while no source changes.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """`$SPARK_HOME/jars`, else the first `bin/../jars` on PATH holding Spark."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else \
        [os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise SystemExit("no Spark jars found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "jvm", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"no graft sources under {root}/src/main/scala")
    return main + bench


def resources(root):
    base = os.path.join(root, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)), base


def build(root):
    """Compile if needed; returns the classes directory."""
    srcs = sources(root)
    res, res_base = resources(root)
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out_root = os.path.join(root, ".bench_build")
    final = os.path.join(out_root, h.hexdigest()[:16])
    classes = os.path.join(final, "classes")
    if os.path.isdir(classes):
        return classes
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    tmp = os.path.join(out_root, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", os.path.join(tmp, "classes"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("scalac failed")
    for p in res:  # service registrations (the `kfs` data source)
        dest = os.path.join(tmp, "classes", os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.copyfile(p, dest)
    for old in glob.glob(os.path.join(out_root, "*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, final)
    return classes


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build(os.getcwd()))
