"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's own (perfbench/src) with the Scala compiler
that ships in the Spark distribution, into <build dir>/perfbench.jar.

    python3 perfbench/build.py [build dir]

Run from the repository root. The Spark distribution is found through
SPARK_HOME, else through `spark-submit` on PATH. A build is skipped when the
sources have not changed since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        sys.exit("perfbench: src/main/scala not found; run from the repository root")
    return engine + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(build_dir):
    """Compile if needed; returns the classpath to run with."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        with open(path, "rb") as f:
            digest.update(path.encode() + b"\0" + f.read())
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "perfbench.jar")
    stamp = os.path.join(build_dir, "classes.sha256")
    # a jar, not a class directory: the JVM's class-data archive accepts jars only
    classpath = jar + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and os.path.exists(jar) and open(stamp).read() == digest.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    if subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", jar, "-C", classes, "."],
                      stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: jar failed")
    # the --add-opens list spark-submit gives a driver, from the Spark
    # distribution itself
    opts = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath, "graftbench.PerfBench",
                           "jvm-options"], capture_output=True, text=True)
    if opts.returncode != 0 or "--add-opens" not in opts.stdout:
        sys.exit("perfbench: could not read Spark's JVM options")
    with open(os.path.join(build_dir, "jvm-options"), "w") as f:
        f.write(opts.stdout.strip())
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return classpath


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
