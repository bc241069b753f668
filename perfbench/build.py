"""Build file of the benchmark package.

Compiles the program's Scala sources (`src/main/scala` at the repository
root) together with the benchmark's own sources (`perfbench/src`), with the
Scala compiler that ships in Spark's `jars/` directory, into one jar under
`.bench_build/build-<hash>/`. The hash covers every source file, so an
unchanged tree is built once per checkout and a changed one again.

    python3 perfbench/build.py     # builds if needed, prints the build dir
"""

import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
COMPILE_TIMEOUT_S = 600
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The `jars/` directory of the Spark installation: `$SPARK_HOME`, or
    the one that holds the `spark-submit` found on `PATH`."""
    homes = []
    if os.environ.get("SPARK_HOME"):
        homes.append(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(
                n.startswith("scala-compiler-") for n in os.listdir(jars)):
            return jars
    raise BuildError("no Spark installation with a Scala compiler found: "
                     "set SPARK_HOME")


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source directory {os.path.relpath(r, ROOT)}")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def java(build_dir, tmp, main, args):
    """The command line of a benchmark JVM."""
    return (["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" +
             os.path.join(HERE, "log4j2.properties")]
            + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")]
            + ["-cp", os.path.join(build_dir, "perfbench.jar") + os.pathsep +
               os.path.join(spark_jars(), "*"), main] + list(args))


def build_dir():
    """Builds unless an up-to-date build exists; returns its directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("build-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(out)
    tmp = tempfile.mkdtemp(prefix="compile-", dir=BUILD)
    try:
        compile_into(srcs, jars, out, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(out, ".complete"), "w").close()
    return out


def compile_into(srcs, jars, out, tmp):
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", classes, "@" + args]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    try:
        done = subprocess.run(cmd, cwd=ROOT, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if done.returncode != 0:
        raise BuildError(f"compile failed with exit code {done.returncode}")
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w",
                         zipfile.ZIP_DEFLATED) as jar:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                jar.write(p, os.path.relpath(p, classes))


if __name__ == "__main__":
    try:
        print(build_dir())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
