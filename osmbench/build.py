#!/usr/bin/env python3
"""Build file of the OSM verb benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (osmbench/src/main/scala) with the Scala compiler that
ships in Spark's jars directory, into osmbench/.build/<hash>/. The hash
covers every input source, so an unchanged tree reuses its classes.

    python3 osmbench/build.py          # build the benchmark, print its dir
    python3 osmbench/build.py test     # build and run the benchmark's tests

Spark is found through SPARK_HOME, or else through an installed pyspark.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")

# Spark on JDK 17 needs these outside spark-submit (the list Spark's
# launcher injects, as in the repo's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark  # noqa: PLC0415
        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(jars):
            return jars
    except ImportError:
        pass
    sys.exit("osmbench: Spark not found (set SPARK_HOME)")


def sources(kind):
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala")]
    if kind == "test":
        dirs.append(os.path.join(HERE, "src", "test", "scala"))
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"osmbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def resources():
    d = os.path.join(ROOT, "src", "main", "resources")
    out = []
    if os.path.isdir(d):
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files]
    return d, sorted(out)


def build(kind="main"):
    """Compile if needed; return the classes directory."""
    srcs = sources(kind)
    res_dir, res = resources()
    h = hashlib.sha256(kind.encode())
    for f in srcs + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, f"{kind}-{h.hexdigest()[:16]}")
    if os.path.isfile(os.path.join(out, "OK")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith(kind + "-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    print(f"osmbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("osmbench: compile failed")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, "OK"), "w").close()
    os.rename(tmp, out)
    return out


def classpath(out):
    return os.path.join(out, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def main():
    kind = sys.argv[1] if len(sys.argv) > 1 else "main"
    if kind not in ("main", "test"):
        sys.exit("usage: build.py [main|test]")
    out = build(kind)
    if kind == "main":
        print(out)
        return
    work = os.path.join(HERE, ".work", f"test-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        r = subprocess.run(
            ["java", "-Xmx2g", *JVM_OPENS, "-Djava.io.tmpdir=" + work,
             "-cp", classpath(out), "osmbench.Tests", work])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
