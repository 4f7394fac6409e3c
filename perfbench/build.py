"""Build file of the benchmark: compiles the engine and the harness.

    python3 perfbench/build.py

Compiles src/main/scala (the engine) and perfbench/src (the harness) with
the Scala compiler that ships in Spark's jars, into .bench_build/, and dumps
SparkEntry.oracleSql to .bench_build/oracle_sql.json.  A stamp of the
sources' hash skips the build when nothing changed.  Spark is found through
SPARK_HOME, else through spark-submit on the PATH.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
HERE = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as
# build.sbt's javaOptions).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among Spark's jars in {jars}")
    return os.path.join(jars, "*")


def classpath():
    return os.pathsep.join([f"{OUT}/classes", f"{OUT}/bench-classes", spark_jars()])


def _sources(root):
    return sorted(glob.glob(f"{root}/**/*.scala", recursive=True))


def _scalac(out, cp, files):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = f"{out}.args"
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, f"@{args_file}"]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit(f"compilation into {out} failed")


def ensure_built():
    product, bench = _sources("src/main/scala"), _sources(f"{HERE}/src")
    if not product:
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    h = hashlib.sha256()
    for p in product + bench:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = f"{OUT}/stamp"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    _scalac(f"{OUT}/classes", spark_jars(), product)
    _scalac(f"{OUT}/bench-classes", os.pathsep.join([f"{OUT}/classes", spark_jars()]), bench)
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, "-cp", classpath(), "graftbench.Harness", "oracle-dump",
           f"{OUT}/oracle_sql.json"]
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("oracle dump failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def oracle_sql():
    with open(f"{OUT}/oracle_sql.json") as f:
        return json.load(f)


if __name__ == "__main__":
    ensure_built()
    sys.exit(0)
