"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's JVM harness
(perfbench/scala) into .bench_build/classes with the Scala compiler that
ships in the Spark distribution. No sbt, no dependency resolution, no
writes outside the checkout. A stamp over every source file skips the
build when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import subprocess
import sys


def spark_jars():
    """The Spark jar directory: `SPARK_JARS`, else the program's own
    `unmanagedBase` in build.sbt."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except FileNotFoundError:
        m = None
    if not m:
        raise SystemExit("perfbench: no Spark jar directory: set SPARK_JARS or "
                         "unmanagedBase in build.sbt (run from the repository root)")
    return m.group(1)


BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
PROGRAM = os.path.join(BUILD, "program.json")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_ROOTS = ["src/main/scala", "perfbench/scala"]


def sources():
    out = []
    for root in SOURCE_ROOTS:
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return os.path.join(spark_jars(), "*")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; returns the classpath to run the harness with."""
    if not os.path.isdir("src/main/scala/graft"):
        raise SystemExit("perfbench: program sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"perfbench: Spark jars not found at {spark_jars()}")
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return f"{CLASSES}{os.pathsep}{classpath()}"
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", classpath()] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("perfbench: compilation failed")
    cp = f"{CLASSES}{os.pathsep}{classpath()}"
    # the program's registered DuckDB oracles and the workloads' job
    # names, for the output check
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.OracleSql", PROGRAM],
                   check=True, stderr=subprocess.DEVNULL)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return f"{CLASSES}{os.pathsep}{classpath()}"


if __name__ == "__main__":
    print(build())
