"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark harness (perfbench/src) into one class
directory with the Scala compiler that ships in the Spark jar directory.

The output dir carries a stamp of every source file's content, so an
unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py [buildDir]
"""
import glob
import hashlib
import os
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The jar dir of a Spark distribution that ships the Scala compiler:
    $SPARK_HOME's, else that of a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler*.jar")):
            return jars
    raise RuntimeError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(root, build_dir):
    """Returns the class directory; raises if the program sources are absent
    or do not compile."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes, stamp


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build", "perfbench")
    print(build(root, out)[0])
