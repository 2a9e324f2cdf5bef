"""Build file of the benchmark: compiles the program's main sources
together with the harness under perfbench/src, with the Scala compiler
that ships in Spark's jar directory, into perfbench/.build/.

The output directory is keyed by a hash of every source, so a changed
program or harness is rebuilt and an unchanged one is reused.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jars with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: program sources not found at src/main/scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiles if needed; returns the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources()
    resources = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            h.update(open(p, "rb").read())
    out = os.path.join(HERE, ".build", "classes-" + h.hexdigest()[:16])
    cp = out + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(os.path.join(out, ".complete")):
        return cp
    shutil.rmtree(os.path.join(HERE, ".build"), ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, "scala-%s-*.jar" % n))[0]
        for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(HERE, ".build", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
        check=True, stdout=sys.stderr)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.rename(tmp, out)
    open(os.path.join(out, ".complete"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
