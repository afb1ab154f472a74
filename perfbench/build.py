"""Build the benchmark: compile the repository's main Scala sources together with
the benchmark's own sources (perfbench/src) into one class directory.

    python3 perfbench/build.py        # from the repository root; prints the classpath

The Scala compiler is the one that ships inside the Spark distribution
($SPARK_HOME/jars, else the jars directory next to `spark-submit` on PATH), so
the build needs neither sbt nor a network. Output goes to
.bench_build/perfbench/build-<hash of every source>/ in the checkout; a build whose
hash matches is reused, so only the first run in a checkout compiles.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT_BASE = os.path.join(ROOT, ".bench_build", "perfbench")

# The JDK 17 module opens Spark needs outside spark-submit (the same list
# org.apache.spark.launcher.JavaModuleOptions injects).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    if not jars:
        raise BuildError("no Spark distribution found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _scala_files(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def sources():
    main, bench = _scala_files(MAIN_SRC), _scala_files(BENCH_SRC)
    if not main:
        raise BuildError("main sources not found under " + os.path.relpath(MAIN_SRC, ROOT))
    if not bench:
        raise BuildError("benchmark sources not found under " + os.path.relpath(BENCH_SRC, ROOT))
    return main + bench


def _fingerprint(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.join(MAIN_RES, r) for r in _resources()]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def _resources():
    if not os.path.isdir(MAIN_RES):
        return []
    out = []
    for base, _, names in os.walk(MAIN_RES):
        out += [os.path.relpath(os.path.join(base, n), MAIN_RES) for n in names]
    return sorted(out)


def build(log=sys.stderr):
    """Compile if needed; return the runtime classpath as a list of entries."""
    jars = spark_jars()
    files = sources()
    out = os.path.join(OUT_BASE, "build-" + _fingerprint(files, jars))
    classes = os.path.join(out, "classes")
    if not os.path.isfile(os.path.join(out, "OK")):
        t0 = time.time()
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + out,
               "-cp", os.pathsep.join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.pathsep.join(jars), "@" + argfile]
        print(f"perfbench: compiling {len(files)} Scala sources", file=log, flush=True)
        p = subprocess.run(cmd, stdout=log, stderr=log)
        if p.returncode != 0:
            raise BuildError(f"scalac failed with exit code {p.returncode}")
        for r in _resources():
            dst = os.path.join(classes, r)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(os.path.join(MAIN_RES, r), dst)
        with open(os.path.join(out, "OK"), "w") as fh:
            fh.write(f"{time.time() - t0:.1f}\n")
        for old in os.listdir(OUT_BASE):  # builds of other sources
            if old.startswith("build-") and old != os.path.basename(out):
                shutil.rmtree(os.path.join(OUT_BASE, old), ignore_errors=True)
        print(f"perfbench: compiled in {time.time() - t0:.0f} s", file=log, flush=True)
    return [classes] + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
